package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Det._
import graft.Memo

/** X6: batch sessionization — the deterministic oracle form of the
  * streaming session_window (SURVEY.md §2.9 T9, AIRWISEv0.py:81-96 gap
  * logic). */
object Sessions {

  /** Split each user's event stream into sessions at gaps > `gapMinutes`;
    * emit one row per session with bounds and size. Single shuffle on
    * user_id; the cumulative-sum session id is the standard lag+sum trick. */
  /** Typed session bounds (user, session_num, start, end, n_events) —
    * the lag-gap-cumsum core shared by [[eventsSessionize]] (which
    * formats it) and [[joinIntervalOverlap]] (which joins it). */
  private[graft] def sessionBounds(events: DataFrame, gapMinutes: Int): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapUs = gapMinutes.toLong * 60 * 1000000
    events
      .withColumn("e_us", unix_micros(col("ts")))
      .withColumn("new_sess",
        when(lag(col("e_us"), 1).over(w).isNull ||
          col("e_us") - lag(col("e_us"), 1).over(w) > gapUs, 1).otherwise(0))
      .withColumn("session_num",
        sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_num"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"))
  }

  def eventsSessionize(events: DataFrame, gapMinutes: Int = 360): DataFrame = {
    sessionBounds(events, gapMinutes)
      .select(col("user_id"), col("session_num"),
        fmtTs(col("session_start")).as("session_start_s"),
        fmtTs(col("session_end")).as("session_end_s"),
        col("n_events"))
      .orderBy("user_id", "session_num")
  }

  /** Cohort retention — the "day-N retention" matrix every growth
    * dashboard renders: users cohorted by their FIRST active day, then
    * distinct-counted per (cohort day, day offset). Two hash aggs + one
    * equi-join on user_id (no hint: the cohort dim is per-user and
    * unbounded, AQE decides the strategy — same call as
    * join_latest_dim). */
  def eventsRetentionCohort(events: DataFrame): DataFrame = {
    val firstDay = events.groupBy(col("user_id"))
      .agg(date_trunc("day", min(col("ts"))).as("cohort_day"))
    events.select(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .distinct()
      .join(firstDay, "user_id")
      .withColumn("day_offset", datediff(col("day"), col("cohort_day")).cast("long"))
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .select(fmtTsSec(col("cohort_day")).as("cohort_day_s"),
        col("day_offset"), col("n_users"))
      .orderBy("cohort_day_s", "day_offset")
  }

  /** Ordered funnel analysis — click → view → purchase, each stage only
    * counting events strictly AFTER the previous stage's first hit (the
    * user-journey query every product-analytics engine ships). The nested
    * stage dependency needs NO self-join: three stacked whole-partition
    * window minima over the SAME user_id partitioning (t2's condition
    * reads t1 computed one select earlier), so the plan is ONE shuffle on
    * user_id + window passes + the final per-user aggregate — where the
    * textbook formulation is a 3-way self-join. Scales as a single hash
    * repartition regardless of funnel depth. */
  def eventsFunnelStages(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    val staged = events
      .withColumn("t1", min(when(col("event_type") === "click", col("ts"))).over(w))
      .withColumn("t2", min(when(col("event_type") === "view" && col("ts") > col("t1"),
        col("ts"))).over(w))
      .withColumn("t3", min(when(col("event_type") === "purchase" && col("ts") > col("t2"),
        col("ts"))).over(w))
    staged.groupBy(col("user_id"))
      .agg(max(col("t1")).as("t1"), max(col("t2")).as("t2"), max(col("t3")).as("t3"))
      .select(col("user_id"),
        when(col("t3").isNotNull, 3L).when(col("t2").isNotNull, 2L)
          .when(col("t1").isNotNull, 1L).otherwise(0L).as("stage"),
        fmtTs(col("t1")).as("t1_s"), fmtTs(col("t2")).as("t2_s"),
        fmtTs(col("t3")).as("t3_s"))
      .orderBy("user_id")
  }

  /** Time-bounded funnel ("window funnel", the conversion-within-24h form
    * of [[eventsFunnelStages]]): click → view → purchase, each stage
    * strictly after the previous AND inside 24 h of the user's FIRST
    * click — the deadline turns "eventually converted" into "converted
    * while the session was hot", which is what campaign analytics
    * actually bills. Same one-shuffle shape as the unbounded funnel
    * (stacked whole-partition window minima over one user_id
    * partitioning, no self-join); the deadline is a timestamp compare
    * against t1 + 24 h, a pure selection — nothing to round. Output is
    * the depth histogram (how many users died at each stage). */
  def eventsWindowFunnel(events: DataFrame, windowHours: Int = 24): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    val deadline = col("t1") + expr(s"INTERVAL $windowHours HOURS")
    val staged = events
      .withColumn("t1", min(when(col("event_type") === "click", col("ts"))).over(w))
      .withColumn("t2", min(when(col("event_type") === "view" &&
        col("ts") > col("t1") && col("ts") <= deadline, col("ts"))).over(w))
      .withColumn("t3", min(when(col("event_type") === "purchase" &&
        col("ts") > col("t2") && col("ts") <= deadline, col("ts"))).over(w))
    staged.groupBy(col("user_id"))
      .agg(max(col("t1")).as("t1"), max(col("t2")).as("t2"), max(col("t3")).as("t3"))
      .select(when(col("t3").isNotNull, 3L).when(col("t2").isNotNull, 2L)
        .when(col("t1").isNotNull, 1L).otherwise(0L).as("funnel_depth"))
      .groupBy(col("funnel_depth"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("funnel_depth")
  }

  /** RFM scoring — the classic marketing segmentation: per-user recency
    * (days from last activity to the analysis anchor), frequency (event
    * count) and monetary (purchase value total), each quartiled into a
    * 1–4 score whose concatenation is the segment label ("444" = best).
    * The raw scan collapses to ONE row per user in the first hash agg;
    * each quartile then derives from a GLOBAL RANK under a total order
    * (metric, then user_id) computed by [[graft.Dist.rankByRange]]'s
    * range-exchange two-phase rank (r6, verdict #4 — three partition-less
    * `ntile(4)` windows were three sequential single-task sorts over all
    * users at scale), with [[graft.Dist.ntileOf]] reproducing the
    * SQL-standard ntile remainder distribution bit-for-bit from the rank
    * (the oracle keeps the `ntile(4) OVER` spelling — identical both
    * engines, the `window_ntile_quartile` precedent). The anchor is a
    * fixed literal (the day after the fixture's last event) — a derived
    * global-max anchor would need a scalar join; a reporting run pins
    * its analysis date anyway. */
  def eventsRfmScores(events: DataFrame, anchor: String = "2024-02-01"): DataFrame = {
    val perUser = events.groupBy(col("user_id"))
      .agg(max(col("ts")).as("last_ts"),
        count(lit(1)).as("frequency"),
        graft.Det.dsum(when(col("event_type") === "purchase", col("value"))
          .otherwise(lit(0.0))).as("monetary"))
      .withColumn("recency_days",
        datediff(lit(anchor).cast("date"), col("last_ts").cast("date")).cast("long"))
    // ONE tagged range-exchange ranks all three metrics: the metrics
    // unpivot to a (tag, sort_value) tall frame (desc recency rides as
    // -recency — exact, the values are small integers in double) that
    // CARRIES the per-user metrics along, range-partition + sort on
    // (tag, value, user), local offsets via monotonically_increasing_id
    // (no window, no __pid re-shuffle — the Dist.rankByRange shape), a
    // per-(pid, tag) count/min-id stats frame lifts offsets to global
    // per-tag ranks, and one conditional agg pivots ranks AND metrics
    // back to a user row. Separate rankByRange calls per metric would
    // each re-derive perUser under a different column pruning — 8 fact
    // scans, no exchange reuse (measured 8× at sf0.1); this shape scans
    // the fact table once.
    val tall = perUser.select(col("user_id"), col("recency_days"),
        col("frequency"), col("monetary"), explode(array(
        struct(lit("r").as("m"), (-col("recency_days")).cast("double").as("v")),
        struct(lit("f").as("m"), col("frequency").cast("double").as("v")),
        struct(lit("m").as("m"), col("monetary").as("v")))).as("t"))
      .select(col("user_id"), col("recency_days"), col("frequency"),
        col("monetary"), col("t.m").as("m"), col("t.v").as("v"))
    val parted = tall.repartitionByRange(col("m"), col("v"), col("user_id"))
      .sortWithinPartitions(col("m"), col("v"), col("user_id"))
      .withColumn("__pid", spark_partition_id())
      .withColumn("__mid", monotonically_increasing_id())
      // r7 (advice, the Dist.rankByRange contract): persist before the
      // stats/join fan-out — branch-specific pruning defeats exchange
      // reuse (measured 3 fact scans here), and single evaluation is
      // what makes the rank/boundary alignment structural, not luck.
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val base = parted.groupBy(col("__pid"), col("m"))
      .agg(count(lit(1)).as("__pc"), min(col("__mid")).as("__m0"))
      .withColumn("__base", coalesce(sum(col("__pc")).over(
        Window.partitionBy(col("m")).orderBy(col("__pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val rn = parted
      .join(broadcast(base.select(col("__pid"), col("m"), col("__m0"), col("__base"))),
        Seq("__pid", "m"))
      .withColumn("rn",
        (col("__base") + (col("__mid") - col("__m0")) + lit(1L)).cast("long"))
    val ranked = rn.groupBy(col("user_id"))
      .agg(max(col("recency_days")).as("recency_days"),
        max(col("frequency")).as("frequency"),
        max(col("monetary")).as("monetary"),
        max(when(col("m") === "r", col("rn"))).as("r_rn"),
        max(when(col("m") === "f", col("rn"))).as("f_rn"),
        max(when(col("m") === "m", col("rn"))).as("m_rn"))
    // n_users from the per-partition count frame (3×pids rows) — never a
    // second fact scan, never collected
    val n = base.filter(col("m") === "r").agg(sum(col("__pc")).as("__n"))
    ranked.crossJoin(broadcast(n))
      .withColumn("r_score", graft.Dist.ntileOf(col("r_rn"), col("__n"), 4))
      .withColumn("f_score", graft.Dist.ntileOf(col("f_rn"), col("__n"), 4))
      .withColumn("m_score", graft.Dist.ntileOf(col("m_rn"), col("__n"), 4))
      .select(col("user_id"), col("recency_days"), col("frequency"), col("monetary"),
        col("r_score"), col("f_score"), col("m_score"),
        concat(col("r_score"), col("f_score"), col("m_score")).as("segment"))
      .orderBy("user_id")
  }

  /** SCD-type-2 interval build (gaps-and-islands): collapse each user's
    * run of consecutive same-tier activity days into one validity
    * interval `[valid_from, valid_to]` — the change-history table a
    * warehouse keeps for a slowly-changing attribute. The island id is
    * the classic difference of two row_numbers (global day order minus
    * per-tier day order), which is constant exactly within a maximal
    * same-tier run. Shuffle shape: the daily rollup map-side combines
    * before its (user, day) shuffle — at corpus scale the raw events
    * never cross the wire — then ONE re-shuffle of the (tiny) daily
    * frame onto user_id serves both windows AND the island aggregate
    * ([user_id] ⊆ clustering keys ⇒ distribution satisfied, no further
    * exchange). Deterministic: days are unique per user after the
    * rollup, so every window order is total. */
  def scd2Intervals(events: DataFrame): DataFrame =
    scd2Core(events)
      .select(col("user_id"), col("tier"),
        fmtTsSec(col("from_day")).as("valid_from"),
        fmtTsSec(col("to_day")).as("valid_to"),
        col("n_days"), col("n_events"))
      .orderBy("user_id", "valid_from")

  /** Shared SCD2 core (timestamp-typed interval bounds) serving both
    * [[scd2Intervals]] (the rendered change-history table) and
    * [[joinPointInTime]] (the lookup against it). */
  private def scd2Core(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("tier",
        when(col("n") >= 4, "high").when(col("n") >= 2, "mid").otherwise("low"))
    val wAll = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val wTier = Window.partitionBy(col("user_id"), col("tier")).orderBy(col("day"))
    daily
      .withColumn("island", row_number().over(wAll) - row_number().over(wTier))
      .groupBy(col("user_id"), col("tier"), col("island"))
      .agg(min(col("day")).as("from_day"), max(col("day")).as("to_day"),
        count(lit(1)).as("n_days"), sum(col("n")).as("n_events"))
  }

  /** Point-in-time (temporal) join against the SCD2 change history: each
    * purchase is enriched with the activity tier that was VALID on its
    * day — the "as the dimension looked then" lookup every warehouse with
    * an SCD2 table runs, and the temporal dual of `join_latest_dim`'s
    * "as it looks now". The join is an equi-join on user_id with the
    * containment predicate as extra conjuncts — never a range join
    * against the raw fact table: the interval side is the COLLAPSED
    * change history (a handful of rows per user), so the per-key match
    * fan-out is bounded by interval count, not event count. Every
    * purchase day is an active day, so containment matches exactly one
    * interval per fact row (inner join, no fan-out, no loss). */
  def joinPointInTime(events: DataFrame): DataFrame = {
    val iv = scd2Core(events).select(col("user_id").as("iv_user_id"),
      col("tier"), col("from_day"), col("to_day"))
    events.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .withColumn("day", date_trunc("day", col("ts")))
      .join(iv, col("user_id") === col("iv_user_id") &&
        col("day") >= col("from_day") && col("day") <= col("to_day"))
      .select(col("event_id"), col("user_id"), fmtTs(col("ts")).as("ts_s"),
        col("value"), col("tier"),
        fmtTsSec(col("from_day")).as("valid_from"),
        fmtTsSec(col("to_day")).as("valid_to"))
      .orderBy("event_id")
  }

  /** First-order Markov transition matrix over each user's event stream:
    * how often class A is followed by class B, and the conditional
    * probability P(next = B | cur = A) — the behavioral model behind
    * next-action prediction and bot detection. One lead() over the
    * per-user total order (single user_id shuffle), then a tiny
    * (cur, next) count agg; the row marginal rides a window over the
    * already-aggregated 25-cell matrix, and p_next is one long/long
    * double division (exactly rounded ⇒ hash-match). */
  def eventsTransitionMatrix(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wCur = Window.partitionBy(col("cur_type"))
    events
      .select(col("user_id"), col("event_type").as("cur_type"),
        lead(col("event_type"), 1).over(w).as("next_type"))
      .filter(col("next_type").isNotNull)
      .groupBy(col("cur_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p_next",
        col("n").cast("double") / sum(col("n")).over(wCur).cast("double"))
      .orderBy("cur_type", "next_type")
  }

  /** r4: session-level conversion rollup — the funnel-adjacent view every
    * product dashboard derives from [[eventsSessionize]]'s episodes:
    * duration, event count, purchase count, conversion flag, and the
    * decimal-exact value total per session. Same single user-window
    * sessionization (one shuffle; the rollup agg reuses the (user,
    * session) grouping downstream of it); duration is integer micros
    * div 1e6 — every output column either integer, selection, or
    * Det.dsum. */
  def eventsSessionStats(events: DataFrame, gapMinutes: Int = 360): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapUs = gapMinutes.toLong * 60 * 1000000
    events
      .withColumn("e_us", unix_micros(col("ts")))
      .withColumn("new_sess",
        when(lag(col("e_us"), 1).over(w).isNull ||
          col("e_us") - lag(col("e_us"), 1).over(w) > gapUs, 1).otherwise(0))
      .withColumn("session_num",
        sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_num"))
      .agg(
        max(col("e_us")).as("max_us"), min(col("e_us")).as("min_us"),
        count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchases"),
        graft.Det.dsum(col("value")).as("total_value"))
      // `div`, not `/`: double division + truncation can disagree with
      // floor division when the rounded quotient crosses an integer
      .withColumn("duration_s", expr("(max_us - min_us) div 1000000"))
      .withColumn("converted", (col("n_purchases") > 0).cast("long"))
      .select(col("user_id"), col("session_num"), col("duration_s"),
        col("n_events"), col("n_purchases"), col("converted"), col("total_value"))
      .orderBy("user_id", "session_num")
  }

  /** r4: weighted PageRank over the event-type transition graph — "which
    * state do user journeys concentrate in?" (the stationary-importance
    * view of [[eventsTransitionMatrix]]; the same machinery ranks
    * domains in a crawl graph). Iterative float algorithms normally
    * can't hash-match — summation order is engine-dependent — so the
    * whole iteration runs in FIXED-POINT integer arithmetic: ranks are
    * integer pico-units (10¹²), each contribution is one integer
    * `div`-chain floor(p·n/deg), the damping mix is `·85 div 100`, and
    * integer sums are exact under any order. Three unrolled iterations;
    * quantization drift vs true PageRank is O(10⁻¹²) per step — far
    * below any decision threshold, and bit-identical everywhere. Plan:
    * the edge/degree frames are ≤ |types|² rows after one lead-window
    * pass; each iteration is a join + agg on that bounded frame. */
  /** The data-scaled pre-collect frame behind [[graphPagerankTypes]] —
    * exposed for PlanShapeSpec's prepass pin (r14, VERDICT r13 #6): the
    * collected fixpoint's output plan is just a LocalTableScan, so a
    * regression in THIS pass (e.g. dropping the groupBy and collecting
    * data-scaled rows) would otherwise be invisible to the plan snapshot. */
  private[graft] def pagerankPrepass(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val edges = events
      .select(col("event_type").as("src"),
        lead(col("event_type"), 1).over(w).as("dst"))
      .filter(col("dst").isNotNull)
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n"))
    val deg = edges.groupBy(col("src")).agg(sum(col("n")).as("deg"))
    edges.join(deg, Seq("src"), "left")
      .select(col("src"), col("dst"), col("n"), col("deg"))
  }

  def graphPagerankTypes(events: DataFrame, iters: Int = 3): DataFrame = {
    val Unit12 = 1000000000000L // 1.0 in pico-units
    val spark = events.sparkSession
    // r13 OPT (guide §2.4/§5, the events_markov_* rationale): the graph is
    // the event-type vocabulary (≤k nodes, ≤k² edges) at ANY data scale —
    // collect the edge+degree matrix once after the single data-scaled
    // window pass and run the damped power iteration on the driver in
    // BigInt (reproduces DECIMAL(38,0) × / `div` exactly). The r12
    // spelling paid a separate nodes.count() action plus 3 unrolled
    // join+agg rounds (58 KB plan, 1.76 s at sf0.1); oracle re-verified
    // sf0.001/0.01/0.1, parquet schema byte-identical.
    // NOTE: the collect runs EAGERLY at DataFrame-construction time (not
    // at action time) — plan inspection and conditional construction pay
    // the data-scaled window pass up front. Bounded by the vocab guard.
    // r14 (ADVICE r13): nodes must come from the PRE-join edge frame —
    // join(deg, "src") is null-unsafe, so deriving nodes post-join dropped
    // a null event_type's node (its teleport share and nNodes both
    // change, diverging every rank). LEFT join keeps null-src edges
    // (deg = null) for the node set; the contribution matrix filters them
    // out, exactly the r12 null-unsafe contribution semantics.
    val rows = graft.ops.Guards.boundedVocabCollect(
      pagerankPrepass(events), "graph_pagerank_types")
    val nodes = rows.iterator
      .flatMap(r => Iterator(r.getString(0), r.getString(1))).toSeq.distinct
    val m = rows.iterator.filter(r => !r.isNullAt(3))
      .map(r => (r.getString(0), r.getString(1),
        BigInt(r.getLong(2)), BigInt(r.getLong(3)))).toArray
    val nNodes = nodes.size.toLong
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
    val schema = StructType(Seq(
      StructField("node", StringType, nullable = true),
      StructField("rank_pico", LongType, nullable = true),
      StructField("rank", DoubleType, nullable = true)))
    // empty graph (empty slice / cold start): the empty frame with the
    // output schema instead of dividing by zero below
    if (nNodes == 0)
      return spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
    val teleport = BigInt(15L * (Unit12 / nNodes) / 100L)
    var p: Map[String, BigInt] = nodes.map(_ -> BigInt(Unit12 / nNodes)).toMap
    for (_ <- 1 to iters) {
      val inflow = scala.collection.mutable.Map.empty[String, BigInt]
        .withDefaultValue(BigInt(0))
      for ((src, dst, n, dg) <- m) inflow(dst) += p(src) * n / dg
      p = nodes.map(nd => nd -> (teleport + inflow(nd) * 85 / 100)).toMap
    }
    val ranked = nodes
      .map(nd => (nd, p(nd).toLong))
      .sortWith { (a, b) =>
        if (a._2 != b._2) a._2 > b._2 else graft.Det.utf8NullsFirstLt(a._1, b._1)
      }
    spark.createDataFrame(
      ranked.map { case (nd, pico) =>
        org.apache.spark.sql.Row(nd, pico, pico.toDouble / 1e12)
      }.asJava, schema)
      .orderBy(col("rank_pico").desc, col("node"))
  }

  /** r4: top-k behavior paths — the most common 3-step event sequences
    * across users (sequential pattern mining's bread-and-butter query;
    * [[eventsTransitionMatrix]] is its order-1 marginal, this is the
    * order-3 view that distinguishes view→click→purchase from
    * view→click→error). Per-user lead(1)/lead(2) over ONE window spec
    * (one user-key shuffle, one Window node), path counts in one hash
    * agg, then the global top-k via the standard count-ordered window
    * (ties by path string so the cut is total-ordered). At 100 TB the
    * path-count agg output is bounded by |types|³, so the rank window's
    * single partition holds ≤ 125 rows regardless of input size. */
  def eventsPathTopk(events: DataFrame, k: Int = 10): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val counts = events
      .select(col("event_type").as("t0"),
        lead(col("event_type"), 1).over(w).as("t1"),
        lead(col("event_type"), 2).over(w).as("t2"))
      .filter(col("t2").isNotNull)
      .select(concat_ws(">", col("t0"), col("t1"), col("t2")).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n"))
    val rank = Window.orderBy(col("n").desc, col("path"))
    counts.withColumn("rn", row_number().over(rank).cast("long"))
      .filter(col("rn") <= k)
      .select(col("rn"), col("path"), col("n"))
      .orderBy("rn")
  }

  /** r5c: triangle census of the user co-activity graph — the clustering
    * signal community detection and fraud-ring spotting start from
    * (pagerank ranks nodes, triangles measure cohesion). Graph: an edge
    * joins two users active in the same MINUTE; edges are DISTINCT ordered
    * pairs (a < b), built from the per-minute co-activity equi-join — work
    * is Σ occupancy² per bucket, and the bucket width IS the density knob:
    * hourly buckets on this fixture yield the complete graph (every user
    * pair shares an hour — 1.12 M edges at sf0.1, and the wedge set blows
    * up cubically; measured 68 s), minute buckets a meaningful co-burst
    * graph (110 k edges, avg degree ~150). At 100 TB the same knob
    * (narrower buckets, or an occupancy cap per bucket) bounds the
    * quadratic term explicitly — never all-pairs over users. Count: the
    * node-ordering algorithm every distributed triangle paper settles
    * on — orient each undirected edge from its LOW-DEGREE endpoint to
    * its high-degree endpoint (ties by id; r6, verdict #3 — id-only
    * orientation leaves a small-id hub its full out-degree and re-skews
    * the wedge join), generate wedges from each node's out-adjacency,
    * and close them against the oriented edge set. Under degree-then-id
    * orientation every node's out-degree is provably ≤ √(2·|E|) — THE
    * reason node-ordering scales where naive wedge counting doesn't —
    * and each triangle is found exactly once (at its order-minimal
    * vertex). All counts integer; the global clustering coefficient is
    * one long/long double divide. */
  /** The co-activity edge frame shared by [[graphTriangles]] and
    * [[graphLinkJaccard]]: DISTINCT ordered user pairs (a < b) active in
    * the same time bucket. One computation, many consumers (wedge legs,
    * closing-edge probe, degree census, neighbor lists) — memoized +
    * persisted via [[graft.Memo]] (released by `Memo.releaseAll` or
    * application end); without it Spark re-derives
    * the distinct-pair build per consumer.
    *
    * r9: `bucket` is the REAL density knob the census docs promise (the
    * sf1 slope experiment measured it: 10× per-minute fleet density →
    * 97× edges (110 k → 10.7 M) → m^1.5 wedge work 500× — the graph
    * itself densifies quadratically, so at fleet scale the bucket
    * narrows to keep "co-activity" meaning COINCIDENCE, not "both alive
    * that minute"). Memo key carries the bucket so differently-bucketed
    * graphs never alias. */
  private def coActivityEdges(events: DataFrame,
                              bucket: String = "minute"): DataFrame =
    Memo.frame(events, s"triangle-edges-$bucket") {
      val active = events
        .select(col("user_id"), date_trunc(bucket, col("ts")).as("hr"))
        .distinct()
      active.as("x")
        .join(active.as("y"), col("x.hr") === col("y.hr") &&
          col("x.user_id") < col("y.user_id"))
        .select(col("x.user_id").as("a"), col("y.user_id").as("b"))
        .distinct()
    }

  /** Oriented edge frame: each undirected (a < b) edge re-oriented
    * low-degree → high-degree, ties by id, carrying the destination's
    * degree so two out-neighbors can be compared under the SAME total
    * order at wedge time. Exposed package-private for the spec that
    * asserts the √(2|E|) out-degree bound actually holds. */
  private[graft] def orientedEdges(edges: DataFrame, deg: DataFrame): DataFrame = {
    val withDeg = edges
      .join(deg.select(col("v").as("a"), col("deg").as("deg_a")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("deg").as("deg_b")), Seq("b"))
    val aFirst = col("deg_a") < col("deg_b") ||
      (col("deg_a") === col("deg_b") && col("a") < col("b"))
    withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("src"),
      when(aFirst, col("b")).otherwise(col("a")).as("dst"),
      when(aFirst, col("deg_b")).otherwise(col("deg_a")).as("deg_dst"))
  }

  /** Undirected degree per node from ONE edge scan (explode both
    * endpoints); |E| = Σdeg / 2 rides the same frame. */
  private[graft] def edgeDegrees(edges: DataFrame): DataFrame =
    edges.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))

  /** r10 (VERDICT r9 #2): the census family's pre-flight wedge budget —
    * the [[graphLinkJaccard]] discipline extended to [[graphTriangles]] /
    * [[graphLocalClustering]], which the sf1 slope experiment measured at
    * 414.9 s / 581.6 s on the 97×-densified minute-bucket graph (slopes
    * 531×/440×) with NO guard: the exact silent-cluster-eater shape the
    * r9 experiment proved kills the context. One cheap agg over the
    * memoized degree frame BEFORE committing the wedge self-join:
    * Σ deg(deg−1)/2 (the census's own n_wedges — a conservative upper
    * bound on the oriented wedge enumeration, which visits a subset) in
    * DECIMAL(38,0) so a dense decade-scale graph can't overflow the
    * budget arithmetic itself. Over budget throws an actionable error
    * naming the fine-bucket escape (`*_fine`, declared + hash-gated)
    * instead of grinding a 100×-spill death. */
  /** The census budget's own metric, exposed for [[Escapes]]' pre-flight
    * routing: Σ deg(deg−1)/2 over the memoized degree frame. */
  private[graft] def censusWedges(events: DataFrame,
      bucket: String = "minute"): java.math.BigDecimal = {
    val edges = coActivityEdges(events, bucket)
    val deg = Memo.frame(events, s"triangle-degrees-$bucket") { edgeDegrees(edges) }
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    deg.agg(coalesce(
      sum(call_function("div", col("deg").cast(dec) * (col("deg") - 1),
        lit(2L).cast(dec))),
      lit(java.math.BigDecimal.ZERO).cast(dec)).as("w"))
      .head().getDecimal(0)
  }

  /** [[graphLinkJaccard]]'s budget metric (Σ deg² over the symmetrized
    * neighbor frame), exposed for [[Escapes]]' pre-flight routing. r12
    * (the interval-overlap single-bound discipline): the symmetrized
    * degree equals [[edgeDegrees]] on the distinct-pair edge frame, so
    * this rides the census family's MEMOIZED degree frame — the router's
    * bound and the exact form's inner guard are two tiny node-level aggs
    * over one cached build instead of two full symmetrize+shuffle passes
    * (measured: auto_link_jaccard 7.6 → parity with exact at sf0.1). */
  private[graft] def jaccardWedges(events: DataFrame): java.math.BigDecimal = {
    val edges = coActivityEdges(events)
    val deg = Memo.frame(events, "triangle-degrees-minute") { edgeDegrees(edges) }
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    deg.agg(coalesce(sum(col("deg").cast(dec) * col("deg")),
      lit(java.math.BigDecimal.ZERO).cast(dec)).as("w"))
      .head().getDecimal(0)
  }

  private def censusWedgeBudget(deg: DataFrame, wedgeBudget: Long,
      queryName: String, escapeName: String): Unit =
    if (wedgeBudget > 0) {
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val wedges = deg.agg(coalesce(
        sum(call_function("div", col("deg").cast(dec) * (col("deg") - 1),
          lit(2L).cast(dec))),
        lit(java.math.BigDecimal.ZERO).cast(dec)).as("w"))
        .head().getDecimal(0)
      if (wedges.compareTo(java.math.BigDecimal.valueOf(wedgeBudget)) > 0)
        throw new IllegalStateException(
          s"$queryName: wedge work Σ deg(deg-1)/2 = $wedges exceeds the " +
            s"$wedgeBudget budget — the co-activity graph is too dense for " +
            "the exact wedge enumeration (the graph densifies quadratically " +
            s"with per-bucket fleet occupancy). Narrow the bucket ($escapeName" +
            ", the declared second-bucket escape) or raise wedgeBudget " +
            "knowingly.")
    }

  /** r14 OPT (guide §2/§5, the jaccard-common rationale): THE census
    * family's ONE wedge enumeration per bucket — per-node triangle
    * credits (each triangle, found once at its order-minimal vertex,
    * credits its 3 vertices). [[graphTriangles]] derives the global count
    * as Σcredits div 3 (exact integers), [[graphLocalClustering]] reads
    * the credits directly, and the fine escapes / auto routers / the
    * census bucket-shift audit all hit the same memo — seven declared
    * consumers, one Σdeg^1.5-work self-join. deg and oriented stay their
    * own memos (orientation joins, budget aggs, census read them too). */
  private def triangleCredits(events: DataFrame, bucket: String): DataFrame = {
    val edges = coActivityEdges(events, bucket)
    val deg = Memo.frame(events, s"triangle-degrees-$bucket") { edgeDegrees(edges) }
    val oriented = Memo.frame(events, s"triangle-oriented-$bucket") {
      orientedEdges(edges, deg)
    }
    Memo.frame(events, s"triangle-credits-$bucket") {
      // wedge at the order-minimal vertex: out-neighbors u ≺ w of the same
      // src, compared by (deg, id) — the orientation's own order
      val wedges = oriented.as("o1")
        .join(oriented.as("o2"), col("o1.src") === col("o2.src") &&
          (col("o1.deg_dst") < col("o2.deg_dst") ||
            (col("o1.deg_dst") === col("o2.deg_dst") && col("o1.dst") < col("o2.dst"))))
        .select(col("o1.src").as("v0"), col("o1.dst").as("wa"), col("o2.dst").as("wc"))
      wedges.join(oriented.as("e3"),
          col("wa") === col("e3.src") && col("wc") === col("e3.dst"), "left_semi")
        .select(explode(array(col("v0"), col("wa"), col("wc"))).as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("n_triangles"))
    }
  }

  def graphTriangles(events: DataFrame, bucket: String = "minute",
      wedgeBudget: Long = 2000000000L): DataFrame = {
    val edges = coActivityEdges(events, bucket)
    val deg = Memo.frame(events, s"triangle-degrees-$bucket") { edgeDegrees(edges) }
    censusWedgeBudget(deg, wedgeBudget, "graph_triangles", "graph_triangles_fine")
    // Σ per-node credits = 3 × the triangle count, exactly (each triangle
    // credits its three vertices once) — integer div restores the count
    val triangles = triangleCredits(events, bucket)
      .agg(coalesce(sum(col("n_triangles")), lit(0L)).as("cr"))
      .select(expr("cr div 3").as("n_triangles"))
    val census = deg
      .agg(coalesce(sum(expr("(deg * (deg - 1)) div 2")), lit(0L)).as("n_wedges"),
        coalesce(expr("sum(deg) div 2"), lit(0L)).as("n_edges"))
    census.crossJoin(broadcast(triangles))
      .select(col("n_edges"), col("n_triangles"), col("n_wedges"),
        when(col("n_wedges") === 0L, lit(0.0))
          .otherwise(lit(3.0) * col("n_triangles").cast("double") /
            col("n_wedges").cast("double")).as("clustering_coeff"))
  }

  /** r8: event-type affinity (association rules over daily baskets) —
    * which behaviors co-occur within one user-day beyond what their base
    * rates predict (lift > 1 ⇒ the pair is a real behavioral bundle;
    * the market-basket view of [[eventsTransitionMatrix]]'s sequential
    * one). Baskets = distinct (user, day, type) — the first agg collapses
    * the fact table; the pair self-join runs on the collapsed frame keyed
    * (user, day) with ≤ |types| rows per key, so pairs are bounded by
    * baskets × types², never events². support/lift are integer counts +
    * one fixed chain each. */
  def eventsTypeAffinity(events: DataFrame): DataFrame = {
    val baskets = events.select(col("user_id"),
      date_trunc("day", col("ts")).as("day"), col("event_type")).distinct()
    val nB = baskets.select(col("user_id"), col("day")).distinct()
      .agg(count(lit(1)).as("n_baskets"))
    val perType = baskets.groupBy(col("event_type")).agg(count(lit(1)).as("n_t"))
    val pairs = baskets.as("a")
      .join(baskets.as("b"),
        col("a.user_id") === col("b.user_id") && col("a.day") === col("b.day") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_ab"))
    pairs
      .join(broadcast(perType.select(col("event_type").as("type_a"),
        col("n_t").as("n_a"))), "type_a")
      .join(broadcast(perType.select(col("event_type").as("type_b"),
        col("n_t").as("n_b"))), "type_b")
      .crossJoin(broadcast(nB))
      .select(col("type_a"), col("type_b"), col("n_ab"), col("n_a"),
        col("n_b"), col("n_baskets"),
        (col("n_ab").cast("double") / col("n_baskets").cast("double"))
          .as("support"),
        ((col("n_ab").cast("double") * col("n_baskets").cast("double")) /
          (col("n_a").cast("double") * col("n_b").cast("double"))).as("lift"))
      .orderBy("type_a", "type_b")
  }

  /** r8: rolling DAU/WAU stickiness per day — the engagement-depth trend
    * ([[eventsDauMau]] gives the calendar-month ratio; product teams
    * watch the 7-day ROLLING one daily). No rolling distinct window:
    * each distinct (user, day) fans out to the 7 target days it keeps
    * the user "weekly-active" for (map-side explode, bounded ×7), and
    * WAU(d) is then a plain distinct count — two hash aggs, no window
    * at all. Days are integer epoch-day units end to end. */
  def eventsStickinessRolling(events: DataFrame): DataFrame = {
    val dayUser = events.select(col("user_id"),
      expr("unix_micros(date_trunc('day', ts)) div 86400000000").as("du"))
      .distinct()
    val dau = dayUser.groupBy(col("du")).agg(count(lit(1)).as("dau"))
    val wau = dayUser
      .select(col("user_id"), explode(expr("sequence(du, du + 6)")).as("du"))
      .distinct()
      .groupBy(col("du")).agg(count(lit(1)).as("wau"))
    dau.join(wau, "du") // wau covers every dau day; phantom future days drop here
      .select(
        graft.Det.fmtTsSec(timestamp_micros(col("du") * lit(86400000000L)))
          .as("day_s"),
        col("dau"), col("wau"),
        (col("dau").cast("double") / col("wau").cast("double")).as("stickiness"))
      .orderBy("day_s")
  }

  /** r8: LOCAL clustering coefficient per node — [[graphTriangles]] gives
    * the graph-level verdict; this names WHICH users sit in tight cliques
    * (2·t(v)/(deg(v)·(deg(v)−1)), the per-node bot-ring / community
    * signal). Same memoized degree-oriented enumeration: each triangle is
    * found exactly once at its orientation-minimal vertex, then credits
    * all three corners (explode, bounded ×3) — per-node counts via one
    * hash agg on the corner key. The triangle SET is independent of the
    * enumeration order, so the oracle's simpler id-ordered (a<b<c)
    * spelling lands the identical credits. Right-joined to the degree
    * frame so zero-triangle nodes keep their row. */
  def graphLocalClustering(events: DataFrame, bucket: String = "minute",
      wedgeBudget: Long = 2000000000L): DataFrame = {
    val edges = coActivityEdges(events, bucket)
    val deg = Memo.frame(events, s"triangle-degrees-$bucket") { edgeDegrees(edges) }
    censusWedgeBudget(deg, wedgeBudget,
      "graph_local_clustering", "graph_local_clustering_fine")
    // r14 OPT: the per-node credits ARE the census family's shared wedge
    // enumeration — see [[triangleCredits]]
    val triCredits = triangleCredits(events, bucket)
    deg.join(triCredits, Seq("v"), "left")
      .select(col("v").as("user_id"), col("deg").as("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("deg") >= 2,
          lit(2.0) * coalesce(col("n_triangles"), lit(0L)).cast("double") /
            (col("deg").cast("double") * (col("deg").cast("double") - lit(1.0))))
          .as("local_cc"))
      .orderBy("user_id")
  }

  /** r9: Newman modularity of the behavioral partition over the
    * co-activity graph — the census tier asks how CLUSTERED the graph is
    * ([[graphTriangles]], [[graphLocalClustering]]); modularity asks
    * whether a given PARTITION explains the clustering: do users who
    * favor the same event type actually co-occur more than a degree-
    * preserving random rewiring would predict? Q = Σ_c [e_c/m −
    * (d_c/2m)²] with e_c = within-community edges, d_c = community
    * degree sum, m = |E|. Communities here are each user's MODAL event
    * type (ties to the lexicographically first — deterministic), so the
    * result reads directly as "is behavior type a real community
    * structure on the interaction graph" — Q near 0 says the co-activity
    * graph ignores behavior; Q toward 1 says behavioral segregation.
    *
    * EXACTNESS: e_c, d_c, m are integers; each community row finishes in
    * one fixed chain (e/m, t = d/2m, q = e/m − t·t), and the GLOBAL Q is
    * never a float sum over community rows — it is assembled from the
    * integer sums as Q = (4m·Σe_c − Σd_c²) / 4m² (DECIMAL(38,0)
    * numerator, one base-2^53 split divide), so community iteration
    * order cannot move a bit. SCALE: the same memoized edge/degree
    * frames as the census (bounded by the bucket density knob); the
    * modal-type dim is one user-keyed agg; community frames are
    * ≤ #event-types rows. The 1-row (m, Q) frame broadcast-cross onto
    * the ≤k-row community frame is the documented allowed BNLJ class. */
  def graphModularity(events: DataFrame,
                      bucket: String = "minute"): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val edges = coActivityEdges(events, bucket)
    val deg = Memo.frame(events, s"triangle-degrees-$bucket") { edgeDegrees(edges) }
    val wMode = Window.partitionBy(col("user_id"))
      .orderBy(col("cnt").desc, col("event_type"))
    // memoized: the modal-type dim feeds three consumers (both edge
    // endpoints + the degree rollup) — without the shared persist each
    // re-derives it with its own full fact scan
    val comm = Memo.frame(events, "modal-type-comm") {
      events
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(wMode))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type").as("comm"))
    }
    val labeled = edges
      .join(comm.select(col("user_id").as("a"), col("comm").as("ca")), Seq("a"))
      .join(comm.select(col("user_id").as("b"), col("comm").as("cb")), Seq("b"))
    val eIn = labeled.filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("comm")).agg(count(lit(1)).as("e_in"))
    val dSum = deg.join(comm, col("v") === col("user_id"))
      .groupBy(col("comm"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("deg_sum"))
    val perComm = dSum.join(eIn, Seq("comm"), "left")
      .withColumn("e_in", coalesce(col("e_in"), lit(0L)))
    val totals = perComm.agg(
      (sum(col("deg_sum").cast(dec)) / lit(2)).cast("long").as("m"),
      sum(col("e_in").cast(dec)).as("se"),
      sum((col("deg_sum") * col("deg_sum")).cast(dec)).as("sd2"))
    val d2 = graft.Det.decToDouble _
    val qTot = totals.select(col("m"),
      when(col("m") > 0,
        d2(lit(4L).cast(dec) * col("m") * col("se") - col("sd2")) /
          (lit(4.0) * col("m").cast("double") * col("m").cast("double")))
        .as("q_total"))
    perComm.crossJoin(broadcast(qTot))
      .withColumn("t", col("deg_sum").cast("double") /
        (lit(2.0) * col("m").cast("double")))
      .select(col("comm").as("community"), col("n_nodes"), col("deg_sum"),
        col("e_in"), col("m").as("n_edges"),
        when(col("m") > 0,
          col("e_in").cast("double") / col("m").cast("double") -
            col("t") * col("t")).as("q_c"),
        col("q_total"))
      .orderBy("community")
  }

  /** r9: Kaplan–Meier survival of the time-to-next-event per event class
    * — the censoring-aware answer to "how long do silences last", which
    * [[eventsInterarrivalHistogram]] cannot give: a histogram of closed
    * gaps silently DROPS every user's final open gap, biasing the tail
    * exactly where churn lives (the user who never came back is the most
    * important observation and the histogram's missing one). Each
    * (user, class) stream contributes its closed gaps as events and its
    * final open gap — last event to the corpus horizon (global max ts) —
    * as a right-censored observation; the KM estimator then discounts
    * risk sets instead of discarding them: at each duration d with n_d
    * at risk (gap ≥ d) and e_d closures, S(d) = Π_{d'≤d} (1 − e_{d'} /
    * n_{d'}). Read: "P(a silence exceeds d hours)" — the retention
    * curve's rigorous sibling.
    *
    * EXACTNESS: the float trap is the cumulative product (a windowed
    * float product is order-fragile, and exp/ln are off the recipe).
    * The product is instead an integer RECURSION in parts-per-10¹²:
    * S ← (S · (n−e)) div n, one integral divide per step — deterministic
    * in both engines (the Kruskal–Wallis micro-unit lesson applied
    * sequentially; each step costs < 10⁻¹² relative, invisible at the
    * emitted 10⁻¹² grain). DECIMAL(38,0) widening keeps S·(n−e) exact
    * for any n that fits a long. Risk sets are suffix sums over the
    * duration-vocab frame (total − exclusive prefix — all integers).
    *
    * SCALE: gaps are hour-granular, so the duration vocabulary is
    * span-bounded (the same bound every hourly ts_ op accepts), NOT
    * row-bounded: the per-class fold list and the O(V²) array-append
    * fold ride a ≤ span-hours frame. The fact table is touched by ONE
    * properly-partitioned (class, user) lead window + one hash agg; the
    * 1-row horizon frame broadcast-cross is the documented allowed BNLJ
    * class. */
  def eventsSurvivalKm(events: DataFrame): DataFrame = {
    val wU = Window.partitionBy(col("event_type"), col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val mx = events.agg(max(col("ts")).as("mts"))
    val durs = events
      .withColumn("nxt", lead(col("ts"), 1).over(wU))
      .crossJoin(broadcast(mx))
      .select(col("event_type"),
        when(col("nxt").isNotNull,
          expr("(unix_micros(nxt) - unix_micros(ts)) div 3600000000"))
          .otherwise(expr("(unix_micros(mts) - unix_micros(ts)) div 3600000000"))
          .as("dur_h"),
        col("nxt").isNull.as("cen"))
    val tbl = durs.groupBy(col("event_type"), col("dur_h"))
      .agg(sum(when(!col("cen"), 1L).otherwise(0L)).as("e"),
        sum(when(col("cen"), 1L).otherwise(0L)).as("c"))
    val wC = Window.partitionBy(col("event_type")).orderBy(col("dur_h"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAllC = Window.partitionBy(col("event_type"))
    val r2 = tbl
      .withColumn("cum", sum(col("e") + col("c")).over(wC))
      .withColumn("tot", sum(col("e") + col("c")).over(wAllC))
      .withColumn("n", col("tot") - col("cum") + col("e") + col("c"))
    r2.groupBy(col("event_type"))
      .agg(graft.ops.Guards.boundedSeries(sort_array(collect_list(
        struct(col("dur_h"), col("e"), col("c"), col("n")))),
        "events_survival_km").as("rs"))
      .withColumn("ss", expr(
        """aggregate(rs, array(cast(1000000000000 as bigint)),
             (acc, r) -> concat(acc, array(
               (cast(element_at(acc, -1) as decimal(38,0)) * (r.n - r.e))
                 div r.n)))"""))
      .select(col("event_type"), posexplode(col("rs")), col("ss"))
      .select(col("event_type"), col("col.dur_h").as("dur_h"),
        col("col.n").as("n_risk"), col("col.e").as("d_events"),
        col("col.c").as("c_censored"),
        element_at(col("ss"), col("pos") + 2).as("surv_ppt"),
        (element_at(col("ss"), col("pos") + 2).cast("double") /
          lit(1.0e12)).as("survival"))
      .orderBy("event_type", "dur_h")
  }

  /** r5c3: common-neighbor link prediction over the co-activity graph —
    * the "who should be connected but isn't" query next to
    * [[graphTriangles]]'s "how connected is it": rank NON-adjacent user
    * pairs by the Jaccard similarity of their neighborhoods,
    * |N(a)∩N(b)| / |N(a)∪N(b)| — the classic link-prediction baseline
    * (Liben-Nowell & Kleinberg 2003) and the candidate generator for
    * account-linking / sockpuppet review queues.
    *
    * Plan: common-neighbor counts come from the wedge equi-join on the
    * shared-neighbor key (each co-neighbor w contributes one (a,b) hit;
    * work = Σ deg(w)² — bounded by the SAME density knob as the triangle
    * census: bucket width / per-bucket occupancy cap; never all-pairs
    * over users), existing edges drop out via LEFT ANTI on the ordered
    * pair, degrees broadcast back, and |union| = deg(a)+deg(b)−common by
    * inclusion-exclusion (pure integers). The one divide per candidate
    * is correctly rounded in both engines ⇒ hash-match. Top-k via
    * TakeOrderedAndProject (sort+limit — no global window on the
    * unbounded candidate frame); the rank column rides a window over the
    * ≤k surviving rows.
    *
    * r9 density hardening (the sf1 slope experiment, SURVEY §6): the
    * wedge join materializes Σ deg(w)² candidate hits, and that sum is
    * QUADRATIC in per-minute fleet density — the generated sf1 fixture
    * (10× events in the same 30-day window = 10× occupancy) measured
    * 10.7 M edges and Σ deg² = 3.1·10¹⁰, whose shuffle spill killed the
    * whole local context (and took the rest of the bench with it). Two
    * defenses, both shipped:
    *
    *  - **Pre-flight wedge budget** (`wedgeBudget`, default 2·10⁹): one
    *    cheap agg over the memoized degree frame BEFORE the wedge join;
    *    over budget throws an actionable error naming the escape instead
    *    of grinding the cluster into a 100×-spill death. The same
    *    pre-flight-before-committing-a-shuffle discipline as
    *    `profile_join_cardinality`.
    *  - **Capped-witness escape** (`maxWitnessDeg` > 0, declared as
    *    `graph_link_jaccard_capped` at cap 64, oracle hash-matched):
    *    common-neighbor WITNESSES are restricted to deg(w) ≤ cap, so
    *    wedge work is bounded by Σ_{deg≤cap} deg² ≤ cap·Σdeg = 2·cap·|E|
    *    — LINEAR in edges at any density. Full degrees still enter the
    *    union term, so capped jaccard is a LOWER bound of the exact
    *    score that discounts hub-mediated similarity — the standard
    *    link-prediction practice (a shared broadcast hub says nothing
    *    about two accounts; a shared 3-neighbor clique says a lot).
    *    `KendallMergeSpec`'s sibling `GraphCapSpec` proves cap ≥ max
    *    degree reproduces the exact form bit-for-bit. */
  def graphLinkJaccard(events: DataFrame, k: Int = 20,
                       maxWitnessDeg: Long = 0L,
                       wedgeBudget: Long = 2000000000L): DataFrame = {
    val edges = coActivityEdges(events)
    val nbrs = edges.select(col("a").as("v"), col("b").as("w"))
      .union(edges.select(col("b").as("v"), col("a").as("w")))
    // r12: the symmetrized per-v neighbor count IS edgeDegrees' count on
    // the distinct-pair frame — share the census family's memoized build
    // instead of shuffling the 2|E| union a second time per consumer.
    val deg = Memo.frame(events, "triangle-degrees-minute") { edgeDegrees(edges) }
    def commonOf(witnessNbrs: DataFrame): DataFrame = witnessNbrs.as("n1")
      .join(witnessNbrs.as("n2"), col("n1.w") === col("n2.w") &&
        col("n1.v") < col("n2.v"))
      .groupBy(col("n1.v").as("a"), col("n2.v").as("b"))
      .agg(count(lit(1)).as("common"))
    val common =
      if (maxWitnessDeg > 0)
        // the capped escape keeps its OWN (linear-work) enumeration —
        // deriving it from the exact frame would smuggle the Σdeg²
        // quadratic term back into the form whose whole point is the
        // 2·cap·|E| bound
        commonOf(nbrs.join(deg.filter(col("deg") <= maxWitnessDeg)
          .select(col("v").as("w")), Seq("w")))
      else {
        if (wedgeBudget > 0) {
          val dec = org.apache.spark.sql.types.DecimalType(38, 0)
          val wedges = deg.agg(coalesce(sum(col("deg").cast(dec) * col("deg")),
            lit(java.math.BigDecimal.ZERO).cast(dec)).as("w"))
            .head().getDecimal(0)
          if (wedges.compareTo(java.math.BigDecimal.valueOf(wedgeBudget)) > 0)
            throw new IllegalStateException(
              s"graph_link_jaccard: wedge work Σdeg² = $wedges exceeds the " +
                s"$wedgeBudget budget — the co-activity graph is too dense for " +
                "the exact wedge join (work is quadratic in per-minute fleet " +
                "density). Use the capped-witness escape (maxWitnessDeg, " +
                "declared as graph_link_jaccard_capped) or raise wedgeBudget " +
                "knowingly.")
        }
        // r14 OPT (VERDICT r13 #3, guide §2 avoid recomputation / §5 cache
        // reused+expensive): the exact wedge enumeration is the single
        // most re-paid subtree on the clean r14 baseline — graph_link_
        // jaccard (2.82 s), auto_link_jaccard's exact route (3.48 s) and
        // graph_link_jaccard_recall's exact member (3.82 s) each re-ran
        // the Σdeg² self-join + pair agg per consumer. Memoize the
        // (a, b, common) pair frame in the shared Memo;
        // the budget pre-flight above still runs on EVERY call, so an
        // over-budget graph refuses before touching the memo.
        Memo.frame(events, "jaccard-common-minute") { commonOf(nbrs) }
      }
    val scored = common.join(edges, Seq("a", "b"), "left_anti")
      .join(deg.select(col("v").as("a"), col("deg").as("deg_a")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("deg").as("deg_b")), Seq("b"))
      .withColumn("union_n", col("deg_a") + col("deg_b") - col("common"))
      .withColumn("jaccard",
        col("common").cast("double") / col("union_n").cast("double"))
    val top = scored.orderBy(col("jaccard").desc, col("a"), col("b")).limit(k)
    val rank = Window.orderBy(col("jaccard").desc, col("a"), col("b"))
    top.withColumn("rn", row_number().over(rank).cast("long"))
      .select(col("rn"), col("a"), col("b"), col("common"), col("union_n"),
        col("jaccard"))
      .orderBy("rn")
  }

  /** r7: degree assortativity of the co-activity graph — Newman's
    * "do hubs talk to hubs?" scalar (assortative r > 0: heavy devices
    * co-occur with heavy devices; disassortative r < 0: hubs surrounded
    * by leaves — the typical bot-net / gateway signature), completing the
    * graph census next to [[graphTriangles]]' clustering coefficient and
    * [[graphKcore]]'s shell decomposition. Computed as the Pearson
    * correlation of endpoint degrees over the SYMMETRIZED edge list
    * (each undirected edge contributes (x,y) and (y,x)), which collapses
    * by symmetry to three sums — Σx, Σx², Σxy — over the undirected edge
    * frame: r = (m·Σxy − (Σx)²) / (m·Σx² − (Σx)²) with m = 2|E|; no
    * square root survives. Exactness: degrees are integers, all three
    * power sums accumulate in DECIMAL(38,0) and cross to double through
    * the base-2^53 split ([[graft.Det.decToDouble]] — deg² terms clear
    * 2^53 at graph scale), leaving one fixed dyadic chain. Plan: the
    * memoized edge + degree frames ([[coActivityEdges]] — shared with
    * the triangle census, built once per dataset), two broadcast-size
    * degree joins, ONE partial/final singleton agg. */
  def graphDegreeAssortativity(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val edges = coActivityEdges(events)
    val deg = Memo.frame(events, "triangle-degrees-minute") { edgeDegrees(edges) }
    val dec0 = DecimalType(38, 0)
    val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
    edges
      .join(deg.select(col("v").as("a"), col("deg").as("deg_a")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("deg").as("deg_b")), Seq("b"))
      .agg(count(lit(1)).as("n_edges"),
        graft.Det.decToDouble(
          sum((col("deg_a") + col("deg_b")).cast(dec0))).as("sx"),
        graft.Det.decToDouble(
          sum(col("deg_a").cast(dec0) * col("deg_a").cast(dec0) +
            col("deg_b").cast(dec0) * col("deg_b").cast(dec0))).as("sx2"),
        graft.Det.decToDouble(
          sum(lit(2).cast(dec0) * col("deg_a").cast(dec0) *
            col("deg_b").cast(dec0))).as("sxy"))
      .crossJoin(broadcast(nNodes))
      .withColumn("m", col("n_edges").cast("double") * lit(2.0))
      .withColumn("num", col("m") * col("sxy") - col("sx") * col("sx"))
      .withColumn("den", col("m") * col("sx2") - col("sx") * col("sx"))
      .select(col("n_nodes"), col("n_edges"),
        when(col("den") > 0, col("num") / col("den")).as("assortativity"))
  }

  /** r10: rich-club coefficient ladder — "do the hubs talk to each
    * other?" For each threshold k in a fixed ladder (2, 4, 8, 16, 32):
    *   φ(k) = 2·E_k / (N_k·(N_k−1))
    * with N_k the nodes of degree > k and E_k the edges with BOTH
    * endpoints of degree > k — the density of the subgraph induced by
    * the club. Read next to [[graphDegreeAssortativity]]: assortativity
    * is the one-number degree-mixing slope; the rich-club ladder shows
    * WHERE along the degree scale the mixing happens (a gateway mesh
    * shows φ rising with k — relay hubs interconnect; a pure hub-leaf
    * broadcast tree shows φ collapsing). Plan: the memoized edge +
    * degree frames (shared with the census family), two degree joins,
    * then one ≤5-row broadcast threshold dim against each (the
    * `join_range_tier` BNLJ shape — the broadcast side is the 5-row
    * ladder, never data); everything after is exact integer counts and
    * one double divide per row. LINEAR in |E| — no wedge work, so no
    * census budget applies. */
  def graphRichClub(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val edges = coActivityEdges(events)
    val deg = Memo.frame(events, "triangle-degrees-minute") { edgeDegrees(edges) }
    val ks = Seq(2L, 4L, 8L, 16L, 32L).toDF("k")
    val nodesAtK = deg.join(broadcast(ks), col("deg") > col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n_nodes"))
    val edgesAtK = edges
      .join(deg.select(col("v").as("a"), col("deg").as("deg_a")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("deg").as("deg_b")), Seq("b"))
      .join(broadcast(ks), least(col("deg_a"), col("deg_b")) > col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n_club_edges"))
    ks.join(nodesAtK, Seq("k"), "left")
      .join(edgesAtK, Seq("k"), "left")
      .withColumn("n_nodes", coalesce(col("n_nodes"), lit(0L)))
      .withColumn("n_club_edges", coalesce(col("n_club_edges"), lit(0L)))
      .select(col("k"), col("n_nodes"), col("n_club_edges"),
        when(col("n_nodes") >= 2,
          lit(2.0) * col("n_club_edges").cast("double") /
            (col("n_nodes").cast("double") *
              (col("n_nodes").cast("double") - 1.0))).as("rich_club_phi"))
      .orderBy("k")
  }

  /** r5c: burst (bot-candidate) detection — users whose peak per-minute
    * event rate clears a threshold, with the first minute that peaked.
    * The rate gate every crawl/training-data pipeline runs before
    * ingesting "user" traffic (the streaming dual is
    * [[graft.stream.Throttle]]'s token bucket — this is the batch audit
    * that tunes its budget). One (user, minute) hash agg collapses the
    * scan; per-user peak + first-peak-minute come from one agg over that
    * frame (max + conditional min — selections, no window); integers
    * throughout ⇒ hash-match. */
  def eventsBurstUsers(events: DataFrame, perMinute: Int = 4): DataFrame = {
    val byMinute = events
      .groupBy(col("user_id"), date_trunc("minute", col("ts")).as("minute"))
      .agg(count(lit(1)).as("n"))
    val peaks = byMinute.groupBy(col("user_id"))
      .agg(max(col("n")).as("peak_per_minute"))
    byMinute.join(peaks, "user_id")
      .filter(col("n") === col("peak_per_minute"))
      .groupBy(col("user_id"), col("peak_per_minute"))
      .agg(min(col("minute")).as("first_peak"))
      .filter(col("peak_per_minute") >= perMinute.toLong)
      .select(col("user_id"), col("peak_per_minute"),
        fmtTsSec(col("first_peak")).as("first_peak_minute"))
      .orderBy("user_id")
  }

  /** r5c6: linear multi-touch attribution — split each purchase's value
    * equally across the user's click/view touches in the preceding 7
    * days (the marketing-analytics dual of the asof family:
    * `join_asof_nearest` is last-touch, this credits EVERY touch).
    * Purchases with no preceding touch report whole under
    * '(unattributed)' so the attributed total always reconciles to
    * gross revenue — an attribution report that doesn't is unusable.
    * Plan: purchases×touches is a per-user equi-join with the 7-day
    * range predicate IN the join condition (non-qualifying pairs die at
    * the join, and an unmatched purchase surfaces as exactly one
    * null-touch row — no carrier-row bookkeeping), touch counts ride
    * one window keyed by the purchase event, credit is one double
    * divide (deterministic given value and n), and per-type totals go
    * through the [[graft.Det.dsum]] decimal contract so summation order
    * can't smear the last ulp. */
  def eventsAttributionLinear(events: DataFrame, windowDays: Int = 7): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"), col("value").as("p_value"))
    val touches = events.filter(col("event_type").isin("click", "view"))
      .select(col("user_id").as("t_user"), col("ts").as("t_ts"),
        col("event_type").as("touch_type"))
    val cond = col("p_user") === col("t_user") &&
      col("t_ts") < col("p_ts") &&
      col("t_ts") >= col("p_ts") - expr(s"INTERVAL $windowDays DAYS")
    purchases.join(touches, cond, "left_outer")
      .withColumn("n_touches",
        count(col("t_ts")).over(Window.partitionBy(col("p_id"))))
      .select(
        coalesce(col("touch_type"), lit("(unattributed)")).as("touch_type"),
        when(col("t_ts").isNotNull,
          col("p_value") / col("n_touches").cast("double"))
          .otherwise(col("p_value")).as("credit"))
      .groupBy(col("touch_type"))
      .agg(count(lit(1)).as("n_credits"), dsum(col("credit")).as("revenue"))
      .orderBy("touch_type")
  }

  /** r5c7, r6 rework: interval OVERLAP join — which user pairs were
    * online together, and for how long: sessions ([[sessionBounds]],
    * the `events_sessionize` contract) self-joined on temporal overlap,
    * aggregated to (user_a < user_b) with concurrent-session counts and
    * total overlap. The missing member of the temporal-join family
    * (asof = nearest point, range = containment — this is
    * interval×interval). The OUTPUT is Θ(pairs-that-overlap) by
    * contract (on a dense fixture that is half of ALL user pairs), so
    * the plan must do work proportional to the OUTPUT, not to
    * bucket-occupancy²: r5's day-bucket equi-join + predicate + distinct
    * generated Σ occupancy² candidates (16 s at sf0.1, #1 in the bench);
    * this is the classic SWEEP instead — sessions explode to the days
    * they span (gap-bounded fan-out), rows repartition + sort by
    * (day, start), and a per-partition linear sweep keeps the active
    * set (intervals whose end exceeds the incoming start) and emits
    * exactly the overlapping pairs, each owned by the day containing
    * `max(start)` so multi-day pairs emit ONCE — no distinct, no
    * rejected candidates (4 s at sf0.1, work = output + sort). Memory
    * is the day's max concurrency (the bucket width is the knob).
    * Overlap is integer microseconds end-to-end ⇒ hash-match; emission
    * is value-determined, so partitioning cannot change the result.
    * r7 profile (sf0.1, local[32], best-of-2): input prep + sweep =
    * 0.8 s; the remaining ~2.7 s is the pair-rollup agg emitting 1.1 M
    * result rows from 3.9 M sweep rows (orderBy adds 0.15 s) — OUTPUT
    * writing dominates, the documented stop condition for further
    * constant-factor work on the sweep itself. */
  def joinIntervalOverlap(events: DataFrame, gapMinutes: Int = 360,
      pairBudget: Long = 20000000000L): DataFrame =
    intervalOverlapPlan(events, gapMinutes, minOverlapUs = 0L, pairBudget)

  /** r10 (VERDICT r9 #7): the declared SUSTAINED-co-presence escape —
    * identical sweep, but only co-session episodes of at least
    * `minOverlapMinutes` (default 240 = 4 h) survive into the pair
    * rollup. The sf3 probe measured the exact form's fate past the
    * budget: its Θ(pairs) shuffle filled a 250 GB disk and died — and
    * the sf0.1 duration census says 92% of fixture overlaps clear 15
    * minutes but only 19% clear 4 hours, so the duration knob is the
    * one that actually sheds output (×5.3 at the default). The filter
    * runs INSIDE the sweep's output pipeline, before the pair shuffle —
    * dropped episodes never spill. Semantically this is the fleet-scale
    * question anyway: microsecond co-presence is coincidence, four
    * hours is co-deployment. */
  def joinIntervalOverlapMin(events: DataFrame, gapMinutes: Int = 360,
      minOverlapMinutes: Int = 240): DataFrame =
    intervalOverlapPlan(events, gapMinutes,
      minOverlapUs = minOverlapMinutes * 60000000L, pairBudget = 0L)

  /** The interval-overlap budget's own metric (Σ_day c(c−1)/2 over
    * session-day occupancy), over a prepared session-day frame. Exposed
    * private[graft] so [[Escapes.intervalOverlap]] can compute it on the
    * SAME materialized frame the chosen form then sweeps (r11 verdict #2:
    * the router must not pay a second sessionize for its routing bound). */
  private[graft] def dayPairBound(sessDays: DataFrame): java.math.BigDecimal = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    sessDays.groupBy(col("day_us"))
      .agg(count(lit(1)).as("c"))
      .agg(coalesce(
        sum(call_function("div", col("c").cast(dec) * (col("c") - 1),
          lit(2L).cast(dec))),
        lit(java.math.BigDecimal.ZERO).cast(dec)).as("b"))
      .head().getDecimal(0)
  }

  /** The session-day frame both interval-overlap forms sweep: sessions
    * ([[sessionBounds]]) exploded to the days they span, with integer-µs
    * bounds. Extracted (r12, VERDICT r11 #2) so [[Escapes.intervalOverlap]]
    * builds it ONCE, materializes it, and feeds both its routing bound and
    * the chosen sweep — previously the auto form sessionized the event
    * table three times (router bound + inner pre-flight + sweep). */
  private[graft] def sessionDayFrame(events: DataFrame,
      gapMinutes: Int): DataFrame =
    sessionBounds(events, gapMinutes)
      .select(col("user_id"), col("session_num"),
        unix_micros(col("session_start")).as("s_us"),
        unix_micros(col("session_end")).as("e_us"),
        explode(sequence(
          date_trunc("day", col("session_start")).cast("date"),
          date_trunc("day", col("session_end")).cast("date"))).as("day"))
      .select(unix_micros(col("day").cast("timestamp")).as("day_us"),
        col("user_id"), col("session_num"), col("s_us"), col("e_us"))

  /** [[sessionDayFrame]] materialized DISK_ONLY in [[graft.Memo]] (see
    * [[intervalOverlapPlan]] for the storage level): every budgeted
    * interval-overlap form reads one sessionize pass per (events, gap). */
  private[graft] def sessionDays(events: DataFrame,
      gapMinutes: Int): DataFrame =
    Memo.frame(events, s"session-days-$gapMinutes",
      org.apache.spark.storage.StorageLevel.DISK_ONLY)(
      sessionDayFrame(events, gapMinutes))

  /** The sustained-co-presence escape's episode floor (≥ 4 h), shared by
    * [[joinIntervalOverlapMin]] and [[Escapes.intervalOverlap]]'s over-
    * budget route so the auto form and the declared escape are the same
    * query. */
  private[graft] val SustainedOverlapUs: Long = 240 * 60000000L

  /** Shared sweep plan for the interval-overlap pair; see
    * [[joinIntervalOverlap]]'s contract scaladoc above. r10: the exact
    * form now pre-flights a PAIR-BOUND budget (Σ_day c_d(c_d−1)/2 over
    * the session-day occupancy — the same cheap conservative bound the
    * census family uses for wedges) because the sf3 probe measured the
    * unguarded failure mode: the Θ(overlapping pairs) shuffle is
    * CORRECT work-∝-output, but on one node it spills ∝ output too,
    * and at bound ≈ 5.8·10¹⁰ (sf3) it filled a 250 GB disk and died
    * mid-stage. Measured calibration: sf1's bound 6.4·10⁹ runs fine
    * (247 s, 109.5 M pairs out); the 2·10¹⁰ default separates them.
    * Over budget throws an actionable error stating the contract (the
    * output IS that large — provision a cluster for ~40·bound bytes of
    * shuffle, or raise pairBudget knowingly) and naming the declared
    * escape `join_interval_overlap_min`. */
  private def intervalOverlapPlan(events: DataFrame, gapMinutes: Int,
      minOverlapUs: Long, pairBudget: Long): DataFrame = {
    // r11 (VERDICT r10 #2), restored r12 (VERDICT r11 #1): ONE sessionize
    // pass. The pair-bound pre-flight is an action on the session-day
    // frame and the sweep re-reads it; without a materialization the
    // sessionize + day-explode runs TWICE (the measured 3.2 → 5.5 s guard
    // cost at sf0.1, a doubled linear pass at 100 TB). Storage level is
    // DISK_ONLY, not localCheckpoint: the first cut used localCheckpoint
    // and sf1 measured 286 s vs r10's two-pass 180 s — MEMORY_AND_DISK
    // blocks for the multi-million-row session-day frame PIN the very
    // execution memory the Θ(pairs) rollup needs, and the spill tax
    // dwarfs the saved scan. Columnar DISK_ONLY keeps the one-scan
    // property (sessionize once, read twice) without touching the
    // execution-memory budget (sf1 re-measured 153 s — 15% under the
    // two-pass record). Only taken when a budget actually pre-flights;
    // the escape form (pairBudget = 0) is single-pass already.
    val sessDays = if (pairBudget > 0) sessionDays(events, gapMinutes)
    else sessionDayFrame(events, gapMinutes)
    if (pairBudget > 0)
      checkOverlapBudget(dayPairBound(sessDays), pairBudget)
    overlapSweep(sessDays, minOverlapUs)
  }

  private[graft] def checkOverlapBudget(bound: java.math.BigDecimal,
      pairBudget: Long): Unit =
    if (bound.compareTo(java.math.BigDecimal.valueOf(pairBudget)) > 0)
      throw new IllegalStateException(
        s"join_interval_overlap: session-day pair bound Σ c(c-1)/2 = $bound " +
          s"exceeds the $pairBudget budget — the output IS proportional to " +
          "the overlapping pairs (work-∝-output by contract), and a single " +
          "node's spill disk dies at this scale (measured: bound 5.8e10 " +
          "filled 250 GB at sf3). Run on a cluster provisioned for " +
          "~40·bound bytes of shuffle, narrow the question to sustained " +
          "co-presence (join_interval_overlap_min, the declared escape), " +
          "or raise pairBudget knowingly.")

  /** The sweep + pair rollup over a prepared session-day frame — the
    * budget-free tail both interval-overlap forms share, callable directly
    * by [[Escapes.intervalOverlap]] on its already-materialized,
    * already-bounded frame (one sessionize for bound + sweep together). */
  /** The raw per-episode frame the sweep emits — exposed (r13) so
    * [[graft.ext.EscapeAudit.joinIntervalOverlapShed]] can read the exact
    * AND sustained rollups from ONE sweep pass instead of sweeping the
    * materialized session-day frame twice. */
  private[graft] def sweptEpisodes(sessDays: DataFrame): DataFrame = {
    val spark = sessDays.sparkSession
    import spark.implicits._
    sessDays
      .repartition(col("day_us"))
      .sortWithinPartitions(col("day_us"), col("s_us"), col("user_id"),
        col("session_num"))
      .as[(Long, Long, Long, Long, Long)]
      .mapPartitions(rows => IntervalSweep.run(rows))
      .toDF("user_a", "sess_a", "user_b", "sess_b", "overlap_us")
  }

  private[graft] def overlapSweep(sessDays: DataFrame,
      minOverlapUs: Long): DataFrame = {
    val swept = sweptEpisodes(sessDays)
    val kept = if (minOverlapUs > 0L)
      swept.filter(col("overlap_us") >= minOverlapUs) else swept
    kept
      .groupBy(col("user_a"), col("user_b"))
      .agg(count(lit(1)).as("n_concurrent"), sum(col("overlap_us")).as("overlap_us_total"))
      .orderBy("user_a", "user_b")
  }

  /** r6: per-user regularity census — the bot / scripted-traffic screen a
    * training-data pipeline runs before trusting behavioral data: humans
    * are bursty and irregular, scripts are metronomic. Per user: event
    * and active-minute counts, the duplicate-minute ratio (integer ppb —
    * the `corpus_mix_report` lesson), inter-event gap mean/variance from
    * exact integer/decimal power sums (gaps are integer micros; gap² is
    * cast to DECIMAL(38,0) BEFORE the multiply — a long·long at day-scale
    * gaps overflows), the busiest-minute burst, and a rule flag on pure
    * integer comparisons. No transcendentals anywhere (an entropy
    * spelling would hand the result to two different libms). Plan: one
    * user-keyed window + agg for the gap branch, one (user, minute) →
    * user two-level agg for the burst branch, joined on the per-user
    * frame; both branches map-side combine before their shuffles. */
  def eventsRegularityScore(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val w = Window.partitionBy(col("user_id")).orderBy(col("e_us"), col("event_id"))
    val dec0 = DecimalType(38, 0)
    val o = events
      .withColumn("e_us", unix_micros(col("ts")))
      .withColumn("minute", expr("e_us div 60000000"))
      .withColumn("gap", col("e_us") - lag(col("e_us"), 1).over(w))
    val gapSide = o.groupBy(col("user_id")).agg(
      count(lit(1)).as("n_events"),
      countDistinct(col("minute")).as("n_minutes"),
      // r7 (advice): sg2 routinely exceeds 2^53 (squared µs gaps), where
      // DuckDB's bare int128→double CAST is not correctly rounded — route
      // both power sums through the base-2^53 split so the oracle's D2D
      // macro lands the identical double (the statMomentsPerType contract).
      graft.Det.decToDouble(sum(col("gap").cast(dec0))).as("sg"),
      graft.Det.decToDouble(sum(col("gap").cast(dec0) * col("gap").cast(dec0))).as("sg2"),
      sum(when(col("gap").isNotNull, 1L).otherwise(0L)).as("n_gaps"))
    val burstSide = events
      .select(col("user_id"), expr("unix_micros(ts) div 60000000").as("minute"))
      .groupBy(col("user_id"), col("minute")).agg(count(lit(1)).as("mc"))
      .groupBy(col("user_id")).agg(max(col("mc")).as("burst_max_per_minute"))
    gapSide.join(burstSide, Seq("user_id"))
      .withColumn("dup_minute_ppb",
        expr("CAST(n_events - n_minutes AS DECIMAL(38,0)) * 1000000000 DIV n_events"))
      .withColumn("mean_gap_us", when(col("n_gaps") > 0, col("sg") / col("n_gaps")))
      .withColumn("gap_var_us2", when(col("n_gaps") > 0,
        col("sg2") / col("n_gaps") -
          (col("sg") / col("n_gaps")) * (col("sg") / col("n_gaps"))))
      .withColumn("suspected_bot",
        col("burst_max_per_minute") >= 10 ||
          (col("n_events") >= 20 && col("dup_minute_ppb") >= 500000000L))
      .select(col("user_id"), col("n_events"), col("n_minutes"),
        col("dup_minute_ppb"), col("mean_gap_us"), col("gap_var_us2"),
        col("burst_max_per_minute"), col("suspected_bot"))
      .orderBy("user_id")
  }

  /** r6: power-of-two inter-arrival histogram per event class — the
    * HdrHistogram-style cadence profile (gap ∈ [2^b, 2^(b+1)) µs buckets)
    * that answers "what does this feed's timing distribution look like"
    * at any dynamic range, where a linear histogram can't hold µs-to-days
    * in one axis. Bucketing is EXACT integer arithmetic in both engines:
    * b = length(bin(gap)) − 1 = ⌊log2 gap⌋ — a binary string length, not
    * a libm log (log2's last ulp differs per libm and sits exactly at
    * the bucket boundaries). Gaps are per (class, device) so the cadence
    * is the device's, not the merged stream's; shares ride integer ppb
    * over the ≤64-buckets-per-class frame. One lag window + one hash
    * agg. */
  def eventsInterarrivalHistogram(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_type"), col("user_id"))
      .orderBy(col("e_us"), col("event_id"))
    val perClass = Window.partitionBy(col("event_type"))
    events
      .withColumn("e_us", unix_micros(col("ts")))
      .withColumn("gap", col("e_us") - lag(col("e_us"), 1).over(w))
      .filter(col("gap").isNotNull)
      .withColumn("bucket", (length(bin(col("gap"))) - 1).cast("long"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("gap")).as("gap_min_us"), max(col("gap")).as("gap_max_us"))
      .withColumn("tot", sum(col("n")).over(perClass))
      .withColumn("share_ppb",
        expr("CAST(n AS DECIMAL(38,0)) * 1000000000 DIV tot"))
      .drop("tot")
      .orderBy("event_type", "bucket")
  }

  /** r6: Pareto decile table of event volume by user — the Lorenz-curve
    * companion of `stat_gini_revenue`'s scalar: which tenth of the users
    * produces which share of the events (the "1% of devices send 60% of
    * traffic" report that sizes rate limits and sampling tiers). The
    * global rank rides [[graft.Dist.rankByRange]] (no partition-less
    * window over the user frame — the r6 contract) and the decile is
    * [[graft.Dist.ntileOf]] off that rank, so the oracle keeps its plain
    * `ntile(10) OVER` spelling; shares are integer ppb windows over the
    * 10-row decile frame. */
  def eventsParetoDeciles(events: DataFrame): DataFrame = {
    val perUser = events.groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
    val ranked = graft.Dist.rankByRange(perUser, "rn",
      col("n_events").desc, col("user_id"))
    val totals = ranked.agg(max(col("rn")).as("__n"))
    ranked.crossJoin(broadcast(totals))
      .withColumn("decile", graft.Dist.ntileOf(col("rn"), col("__n"), 10))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_users"), sum(col("n_events")).as("n_events"))
      .withColumn("share_ppb", expr(
        "CAST(n_events AS DECIMAL(38,0)) * 1000000000 DIV sum(n_events) OVER ()"))
      .withColumn("cum_share_ppb", expr(
        "CAST(sum(n_events) OVER (ORDER BY decile) AS DECIMAL(38,0)) * 1000000000 DIV sum(n_events) OVER ()"))
      .orderBy("decile")
  }

  /** r6: k-core decomposition of the user co-activity graph — the
    * community-strength filter next to [[graphTriangles]]'s cohesion
    * census and [[graphLinkJaccard]]'s candidates: the k-core is the
    * maximal subgraph where every node keeps ≥ k neighbors, the standard
    * "dense social scaffold" extractor (and botnet-ring screen) in
    * large-graph practice. Algorithm: simultaneous peeling — drop every
    * node whose induced degree < k, recompute, repeat to the (unique)
    * fixpoint; uniqueness means removal order cannot matter, so the
    * engine- and partition-order-independence is structural, not
    * incidental. Each round is two semi-joins + one degree agg over the
    * memoized edge frame, `localCheckpoint`ed (the dedup-clusters
    * fixpoint contract) with a scalar count per round as the convergence
    * probe (bounded driver work — counts, never rows). Emits the
    * surviving nodes with their core degrees. */
  def graphKcore(events: DataFrame, k: Int = 3, maxRounds: Int = 50): DataFrame = {
    val edges = coActivityEdges(events)
    def induced(nodes: DataFrame): DataFrame =
      edges
        .join(nodes.select(col("v").as("a")), Seq("a"), "left_semi")
        .join(nodes.select(col("v").as("b")), Seq("b"), "left_semi")
    def degrees(sub: DataFrame): DataFrame =
      sub.select(explode(array(col("a"), col("b"))).as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    // r7 (verdict #2): LAZY checkpoint + eager count = ONE materializing
    // action per peel round — the count() job computes the round's frame,
    // caches its blocks (lineage truncated), and returns the convergence
    // probe in the same pass; the eager-checkpoint-then-count spelling
    // paid a second job per round just to read the probe back.
    var cur = edgeDegrees(edges).filter(col("deg") >= k)
      .select(col("v")).localCheckpoint(false)
    var nCur = cur.count()
    var rounds = 0
    var done = false
    while (!done && rounds < maxRounds) {
      val next = degrees(induced(cur)).filter(col("deg") >= k)
        .select(col("v")).localCheckpoint(false)
      val nNext = next.count()
      done = nNext == nCur // next ⊆ cur, so equal counts ⇔ fixpoint
      cur = next; nCur = nNext; rounds += 1
    }
    degrees(induced(cur))
      .select(col("v").as("user_id"), col("deg").as("core_degree"))
      .orderBy("user_id")
  }

  /** r7b: cumulative cohort LTV — [[eventsRetentionCohort]]'s monetary
    * sibling, the table that decides acquisition spend: per (cohort day,
    * day offset) the purchase revenue, its running cumulative, and the
    * per-acquired-user LTV (cumulative ÷ FULL cohort size, buyers or
    * not — the definition finance uses). Plan: two hash aggs (first-day,
    * revenue cells) + one per-user equi-join; the cumulative rides a
    * window PARTITIONED by cohort day (thousands of cohorts at scale —
    * never a global window), re-accumulating the cell revenues in
    * decimal so offset order is associative. The cells are exact: cell
    * revenue is [[graft.Det.dsum]]'s decimal contract, and a ≤6-dp
    * double at cell magnitude is exactly round-trippable through
    * DECIMAL(28,6), so the cumulative is bit-deterministic too. */
  def eventsCohortLtv(events: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    // r14 OPT (guide §2.4): cohort_size as an unsorted window COUNT over
    // the firstDay frame — the r13 spelling re-aggregated firstDay into a
    // separate cohortSize frame and joined it back at the end, evaluating
    // the per-user first-day scan+agg TWICE. The count rides the join into
    // the cells agg (constant per cohort, max() picks it back out).
    val wCohort = Window.partitionBy(col("cohort_day"))
    val firstDay = events.groupBy(col("user_id"))
      .agg(date_trunc("day", min(col("ts"))).as("cohort_day"))
      .withColumn("cohort_size", count(lit(1)).over(wCohort))
    val cells = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"), col("value"))
      .join(firstDay, "user_id")
      .withColumn("day_offset", datediff(col("day"), col("cohort_day")).cast("long"))
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(dsum(col("value")).as("revenue"),
        countDistinct(col("user_id")).as("n_buyers"),
        max(col("cohort_size")).as("cohort_size"))
    val w = Window.partitionBy(col("cohort_day")).orderBy(col("day_offset"))
    cells
      .withColumn("cum_revenue",
        sum(col("revenue").cast(dec)).over(w).cast("double"))
      .select(fmtTsSec(col("cohort_day")).as("cohort_day_s"), col("day_offset"),
        col("n_buyers"), col("revenue"), col("cum_revenue"), col("cohort_size"),
        (col("cum_revenue") / col("cohort_size")).as("ltv_per_user"))
      .orderBy("cohort_day_s", "day_offset")
  }

  /** r7b: weekly growth accounting — the four-way user ledger every
    * engagement report opens with, and the table [[eventsRetentionCohort]]
    * (per-cohort decay) and `events_dau_mau` (stock ratio) bracket but
    * don't give: per week, how many active users are NEW (first week
    * ever), RETAINED (also active the prior week), RESURRECTED (back
    * after a gap), and how many of the prior week's actives CHURNED
    * (attributed to the first silent week, capped at the last observed
    * week so the ledger never invents post-data churn). Quick ratio =
    * (new+resurrected)/churned as the one derived divide. Plan: one
    * (user, week) distinct, one user-keyed lag/lead window stack, two
    * hash aggs unioned on the week key; the data-end cap is a 1-row
    * broadcast. Conservation (actives(w) = retained(w) +
    * new/resurrected inflow; churn(w+1) = actives(w) − retained(w+1))
    * is spec-asserted. */
  def eventsGrowthAccounting(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    val weekly = events
      .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("wk"))
    val seq0 = weekly
      .withColumn("prev_wk", lag(col("wk"), 1).over(w))
      .withColumn("next_wk", lead(col("wk"), 1).over(w))
    val oneWeek = expr("INTERVAL 7 DAYS")
    val inflow = seq0
      .withColumn("status",
        when(col("prev_wk").isNull, lit("new"))
          .when(col("prev_wk") === col("wk") - oneWeek, lit("retained"))
          .otherwise(lit("resurrected")))
      .groupBy(col("wk"))
      .agg(
        sum(when(col("status") === "new", 1L).otherwise(0L)).as("n_new"),
        sum(when(col("status") === "retained", 1L).otherwise(0L)).as("n_retained"),
        sum(when(col("status") === "resurrected", 1L).otherwise(0L)).as("n_resurrected"))
    val maxWk = weekly.agg(max(col("wk")).as("max_wk"))
    val churn = seq0
      .filter(col("next_wk").isNull || col("next_wk") > col("wk") + oneWeek)
      .withColumn("churn_wk", col("wk") + oneWeek)
      .crossJoin(broadcast(maxWk))
      .filter(col("churn_wk") <= col("max_wk"))
      .groupBy(col("churn_wk").as("wk"))
      .agg(count(lit(1)).as("n_churned"))
    // FULL join: a fully-silent week can still be charged churn
    inflow.join(churn, Seq("wk"), "full_outer")
      .withColumn("n_churned", coalesce(col("n_churned"), lit(0L)))
      .withColumn("n_new", coalesce(col("n_new"), lit(0L)))
      .withColumn("n_retained", coalesce(col("n_retained"), lit(0L)))
      .withColumn("n_resurrected", coalesce(col("n_resurrected"), lit(0L)))
      .select(fmtTsSec(col("wk")).as("week_s"),
        col("n_new"), col("n_retained"), col("n_resurrected"), col("n_churned"),
        when(col("n_churned") > 0,
          (col("n_new") + col("n_resurrected")).cast("double") /
            col("n_churned").cast("double")).as("quick_ratio"))
      .orderBy("week_s")
  }

  /** r7b: connected-component SIZE histogram of the co-activity graph —
    * the population view the per-node censuses (k-core shells, triangle
    * cohesion) do not give: "is this network one giant blob plus dust,
    * or many mid-size cliques?" — the first question about any implicit
    * graph, and the fragmentation metric dedup pipelines read off their
    * duplicate graphs. Reuses [[graft.ext.Dedup]]'s path-halving
    * min-label fixpoint verbatim (checkpointed rounds, convergence probe
    * folded into each round's one action — O(diameter) rounds of
    * equi-joins, never materializing pairwise reachability); users with
    * no co-activity edge rejoin as singleton components via one
    * left join. The oracle walks the same graph with a recursive
    * label-propagation CTE — min reachable id per node. */
  def graphCcSizes(events: DataFrame): DataFrame = {
    val edges = coActivityEdges(events)
    val labeled = Dedup.ccComponents(
      edges.select(col("a").as("doc_a"), col("b").as("doc_b")))
    events.select(col("user_id")).distinct()
      .join(labeled.select(col("id").as("user_id"), col("label")),
        Seq("user_id"), "left")
      .withColumn("label", coalesce(col("label"), col("user_id")))
      .groupBy(col("label")).agg(count(lit(1)).as("component_size"))
      .groupBy(col("component_size")).agg(count(lit(1)).as("n_components"))
      .orderBy("component_size")
  }

  /** r9: stationary distribution of the event-type Markov chain — the
    * long-run answer [[eventsTransitionMatrix]] only implies: where does
    * a user's session settle if the observed transition dynamics run
    * forever (the PageRank-without-teleport of the behavioral chain, and
    * the baseline mix that makes a transition-matrix drift alarm
    * actionable). Power iteration x ← xP, `iters` rounds UNROLLED.
    * EXACTNESS — the floating trap here is real: Σᵢ xᵢ·pᵢⱼ sums doubles
    * in group order, which no engine pins. So the iteration runs in
    * INTEGER FIXED-POINT: x is parts-per-billion (long), each
    * contribution is floor(xᵢ·nᵢⱼ / rowsumᵢ) — the product exact in
    * DECIMAL(38,0) (xᵢ ≤ 10⁹ but nᵢⱼ is row-scaled; at 10¹² transitions
    * the product needs 21 digits — decades of headroom), the floor-div
    * deterministic, and the per-state Σ over exact integers
    * order-independent. The ≤ k·(k−1) ppb of mass the floors shave per
    * round is a deterministic truncation BOTH engines reproduce
    * bit for bit — the `emb_quantize_int8` philosophy: quantize once,
    * exactly, rather than trust cross-engine float folds. States with no
    * outgoing edges shed their mass (the chain's true absorbing-loss
    * semantics, explicit). SCALE: one data-scaled user-window pass
    * builds the ≤k² count matrix; the fixed-point itself runs on the
    * DRIVER over that collected matrix (r13 OPT, guide §2.4/§5): the r12
    * spelling unrolled 8 rounds of join+agg over a ≤k²-row frame — ~24
    * exchanges and a 132 KB plan whose cost was pure planning/scheduling
    * (3.09 s at sf0.1 on a few-dozen-row matrix). k = |event-type
    * vocabulary| is bounded at any data scale, so the collect is the
    * ≤nCells-centroid / dedup_clusters-probe precedent, not a data
    * collect; BigInt reproduces the DECIMAL(38,0) products and `div`
    * floor-division bit for bit on these nonnegative operands, so the
    * output is hash-identical (oracle re-verified sf0.001/0.01/0.1). */
  /** The data-scaled pre-collect frame shared by [[eventsMarkovStationary]]
    * and [[eventsMarkovAbsorption]] — exposed for PlanShapeSpec's prepass
    * pin (r14, VERDICT r13 #6; the [[pagerankPrepass]] rationale). */
  private[graft] def markovPrepass(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val trans = events
      .select(col("user_id"), col("event_type").as("src"),
        lead(col("event_type"), 1).over(w).as("dst"))
      .filter(col("dst").isNotNull)
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n"))
    val rowsums = trans.groupBy(col("src")).agg(sum(col("n")).as("rn"))
    trans.join(rowsums, Seq("src"), "left")
      .select(col("src"), col("dst"), col("n"), col("rn"))
  }

  def eventsMarkovStationary(events: DataFrame, iters: Int = 8): DataFrame = {
    val spark = events.sparkSession
    // r14 (ADVICE r13): states from the PRE-join trans frame via a LEFT
    // join — the null-unsafe inner join dropped null-src edges and with
    // them the null state (initial mass ppb/|states| changes for every
    // state). The iteration matrix keeps the null-unsafe semantics by
    // filtering the null-rowsum rows. The collect is eager at
    // construction time; vocab-guarded; prepass plan pinned.
    val collected = graft.ops.Guards.boundedVocabCollect(
      markovPrepass(events), "events_markov_stationary")
    val m = collected.iterator.filter(r => !r.isNullAt(3))
      .map(r => (r.getString(0), r.getString(1),
        BigInt(r.getLong(2)), BigInt(r.getLong(3)))).toArray
    val states = collected.iterator
      .flatMap(r => Iterator(r.getString(0), r.getString(1))).toSeq.distinct
      .sortWith(graft.Det.utf8NullsFirstLt)
    val ppb = BigInt(1000000000L)
    var x: Map[String, BigInt] =
      states.map(_ -> (if (states.nonEmpty) ppb / states.size else BigInt(0))).toMap
    for (_ <- 1 to iters) {
      val xn = scala.collection.mutable.Map.empty[String, BigInt]
        .withDefaultValue(BigInt(0))
      for ((src, dst, n, rn) <- m) xn(dst) += x(src) * n / rn
      x = states.map(s => s -> xn(s)).toMap
    }
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val schema = StructType(Seq(
      StructField("state", StringType, nullable = true),
      StructField("stationary_ppb", LongType, nullable = false)))
    val rows = states.map(s =>
      org.apache.spark.sql.Row(s, x(s).toLong)).asJava
    spark.createDataFrame(rows, schema).orderBy("state")
  }

  /** r9: daily PEAK CONCURRENCY over the sessionized stream — the
    * capacity-planning read the session tier stops short of:
    * [[eventsSessionStats]] describes sessions one at a time;
    * [[Sessions.eventsSessionize]]'s intervals, swept together, answer
    * "how many sessions were open AT ONCE, and when" — the number that
    * sizes connection pools and the SLO the busiest minute is judged
    * against. Classic boundary sweep: each session contributes +1 at
    * its (day-clipped) start and −1 at its end, the running sum is the
    * live concurrency, and the per-day max with its timestamp is the
    * deliverable. Ends sort BEFORE starts at the same instant, so
    * touching sessions never count as overlapping.
    *
    * EXACTNESS: pure integer ±1 sums over a deterministic total order
    * (t, delta, user, session); the argmax is a selection (ties to the
    * earliest instant). SCALE: the `join_interval_overlap` posture —
    * midnight-spanning sessions explode into the ≤ span-days they touch
    * (bounded fan-out), and the sweep windows partition per DAY, never
    * a partition-less window over the session population. */
  def eventsPeakConcurrency(events: DataFrame,
                            gapMinutes: Int = 360): DataFrame = {
    val sess = sessionBounds(events, gapMinutes)
      .withColumn("day", explode(expr(
        "sequence(date_trunc('day', session_start), " +
          "date_trunc('day', session_end), interval 1 day)")))
      .withColumn("gs", greatest(col("session_start"), col("day")))
      .withColumn("ge", least(col("session_end"),
        col("day") + expr("interval 1 day")))
    val bounds = sess.select(col("day"), col("gs").as("t"),
        lit(1L).as("delta"), col("user_id"), col("session_num"))
      .union(sess.select(col("day"), col("ge").as("t"),
        lit(-1L).as("delta"), col("user_id"), col("session_num")))
    val wDay = Window.partitionBy(col("day"))
    val sweep = wDay.orderBy(col("t"), col("delta"), col("user_id"),
      col("session_num"))
    bounds
      .withColumn("conc", sum(col("delta"))
        .over(sweep.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n_sessions", (count(lit(1)).over(wDay) / lit(2)).cast("long"))
      .withColumn("rk", row_number().over(wDay.orderBy(col("conc").desc,
        col("t"), col("delta"), col("user_id"), col("session_num"))))
      .filter(col("rk") === 1)
      .select(fmtTsSec(col("day")).as("day_s"), col("n_sessions"),
        col("conc").as("peak_concurrency"), fmtTs(col("t")).as("peak_at_s"))
      .orderBy("day_s")
  }

  /** r9: absorption analysis of the event-type Markov chain — the
    * chain's CONVERSION read next to [[eventsMarkovStationary]]'s
    * equilibrium one: make `absorbing` (purchase) a sink and ask, from
    * each behavioral state, (a) the probability of reaching it within N
    * steps and (b) the expected steps E[min(τ, N)] — "how far is each
    * behavior from buying, and does it get there at all". The funnel
    * tier measures observed sequences; this extrapolates the OBSERVED
    * DYNAMICS, so a state can be two hops from purchase in the chain
    * even if few users have walked the full path yet. Both quantities
    * are the N-truncated fixed points of p ← P·p (p_sink = 1) and
    * t ← 1 + P·t (t_sink = 0) — truncation makes them well-defined even
    * when absorption is not certain (the unconditional expectation
    * diverges; E[min(τ, N)] never does). States with no observed
    * outgoing transitions surface with reach 0 — visible, not an error.
    *
    * EXACTNESS: the [[eventsMarkovStationary]] integer fixed-point
    * recipe verbatim — both vectors iterate in ppb with per-edge
    * floor(v·n // rn) contributions (exact DECIMAL(38,0) products,
    * order-free integer sums), N = 12 rounds, oracle CTE chain
    * generated by the same loop. SCALE: one data-scaled lead-window
    * pass builds the ≤k² matrix; the fixed-point runs on the DRIVER
    * over that collected matrix (r13 OPT, guide §2.4/§5 — the
    * [[eventsMarkovStationary]] rationale verbatim: the unrolled r12
    * spelling was ~36 exchanges / a 226 KB plan costing 4.04 s at sf0.1
    * on a few-dozen-row matrix; BigInt reproduces DECIMAL(38,0) + `div`
    * bit for bit, oracle re-verified sf0.001/0.01/0.1). */
  def eventsMarkovAbsorption(events: DataFrame, absorbing: String = "purchase",
                             iters: Int = 12): DataFrame = {
    val spark = events.sparkSession
    // r14 (ADVICE r13): states from the PRE-join trans frame via a LEFT
    // join (the eventsMarkovStationary rationale verbatim — the inner
    // join dropped the null state from the output). Eager collect at
    // construction time; vocab-guarded; prepass plan pinned.
    val collected = graft.ops.Guards.boundedVocabCollect(
      markovPrepass(events), "events_markov_absorption")
    val m = collected.iterator.filter(r => !r.isNullAt(3))
      .map(r => (r.getString(0), r.getString(1),
        BigInt(r.getLong(2)), BigInt(r.getLong(3)))).toArray
    val states = collected.iterator
      .flatMap(r => Iterator(r.getString(0), r.getString(1))).toSeq.distinct
      .sortWith(graft.Det.utf8NullsFirstLt)
    // `=!=` semantics: a NULL src is dropped (NULL <> x is NULL in SQL)
    val edges = m.filter(e => e._1 != null && e._1 != absorbing)
    val ppb = BigInt(1000000000L)
    var pv: Map[String, BigInt] =
      states.map(s => s -> (if (s == absorbing) ppb else BigInt(0))).toMap
    var tv: Map[String, BigInt] = states.map(_ -> BigInt(0)).toMap
    for (_ <- 1 to iters) {
      val pn = scala.collection.mutable.Map.empty[String, BigInt]
        .withDefaultValue(BigInt(0))
      val tn = scala.collection.mutable.Map.empty[String, BigInt]
        .withDefaultValue(BigInt(0))
      for ((src, dst, n, rn) <- edges) {
        pn(src) += pv(dst) * n / rn
        tn(src) += tv(dst) * n / rn
      }
      pv = states.map(s => s -> (if (s == absorbing) ppb else pn(s))).toMap
      tv = states.map(s => s -> (if (s == absorbing) BigInt(0) else ppb + tn(s))).toMap
    }
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
    val schema = StructType(Seq(
      StructField("state", StringType, nullable = true),
      StructField("reach_ppb", LongType, nullable = false),
      StructField("exp_steps_ppb", LongType, nullable = false),
      StructField("reach_prob", DoubleType, nullable = true),
      StructField("exp_steps_capped", DoubleType, nullable = true)))
    val rows = states.map { s =>
      val p = pv(s).toLong; val t = tv(s).toLong
      org.apache.spark.sql.Row(s, p, t, p.toDouble / 1.0e9, t.toDouble / 1.0e9)
    }.asJava
    spark.createDataFrame(rows, schema).orderBy("state")
  }

  /** r9: conversion-lag deciles by first-click DAY cohort — the funnel
    * tier's missing TIME dimension: [[eventsFunnelStages]] says WHO
    * reached purchase, `events_window_funnel` says who converted inside
    * a deadline; this says HOW FAST the converting population moves
    * (p10/p50/p90 of click→purchase delay), per acquisition-day cohort
    * so a slowing checkout shows up as cohort-over-cohort drift — the
    * conversion-velocity read growth teams actually track. Per user:
    * first click, then first purchase STRICTLY after it (the funnel's
    * stage contract, whole-partition window minima — one shuffle, no
    * self-join); lag is exact integer micros → seconds by integral
    * divide. Deciles are the `agg_quantiles` discrete-selection
    * contract (value at ceil(q·n), never interpolated) under a
    * (lag, user) total order, windowed PER COHORT DAY — partitions are
    * cohort-bounded, never a partition-less window over the converting
    * population. All selections and integer arithmetic ⇒ trivially
    * hash-match. */
  def eventsConversionLagDeciles(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    val firsts = events
      .withColumn("tc", min(when(col("event_type") === "click", col("ts"))).over(w))
      .withColumn("tp", min(when(col("event_type") === "purchase" &&
        col("ts") > col("tc"), col("ts"))).over(w))
      .groupBy(col("user_id"))
      .agg(max(col("tc")).as("tc"), max(col("tp")).as("tp"))
      .filter(col("tc").isNotNull && col("tp").isNotNull)
      .select(col("user_id"), date_trunc("day", col("tc")).as("cohort_day"),
        (unix_micros(col("tp")) - unix_micros(col("tc"))).as("lag_us"))
    val wd = Window.partitionBy(col("cohort_day"))
    val wo = wd.orderBy(col("lag_us"), col("user_id"))
    def at(q: Double) = max(when(col("rn") === ceil(col("n") * q), col("lag_s")))
    firsts
      .withColumn("lag_s", expr("div(lag_us, 1000000)"))
      .withColumn("rn", row_number().over(wo).cast("long"))
      .withColumn("n", count(lit(1)).over(wd))
      .groupBy(col("cohort_day"))
      .agg(max(col("n")).as("n_converted"),
        at(0.1).as("lag_p10_s"), at(0.5).as("lag_p50_s"),
        at(0.9).as("lag_p90_s"))
      .select(fmtTsSec(col("cohort_day")).as("cohort_day_s"),
        col("n_converted"), col("lag_p10_s"), col("lag_p50_s"),
        col("lag_p90_s"))
      .orderBy("cohort_day_s")
  }

  /** r10b: audience-overlap matrix between event types — "are the users
    * who VIEW the same users who PURCHASE?": per ordered type pair the
    * exact Jaccard of the two audiences, the segmentation read
    * `events_type_affinity`'s lift coefficients imply but never state as
    * set overlap. EXACTNESS: pure set arithmetic — distinct (user, type)
    * pairs, intersections from one self-equi-join on user (work
    * Σ_user k², k ≤ #types — linear in users at any scale), union by
    * inclusion–exclusion, one divide per pair. */
  def eventsAudienceOverlap(events: DataFrame): DataFrame = {
    // r14 OPT (guide §5): three consumers (sizes, both self-join legs)
    // re-ran the full events scan + distinct — persist the ≤users×types
    // frame so the scan happens once
    val ut = events.select(col("user_id"), col("event_type")).distinct()
      .persist()
    val sizes = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val inter = ut.as("x")
      .join(ut.as("y"), col("x.user_id") === col("y.user_id") &&
        col("x.event_type") < col("y.event_type"))
      .groupBy(col("x.event_type").as("type_a"), col("y.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_both"))
    inter
      .join(sizes.select(col("event_type").as("type_a"), col("n").as("n_a")),
        Seq("type_a"))
      .join(sizes.select(col("event_type").as("type_b"), col("n").as("n_b")),
        Seq("type_b"))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        col("n_both"),
        (col("n_both").cast("double") /
          (col("n_a") + col("n_b") - col("n_both")).cast("double"))
          .as("jaccard"))
      .orderBy("type_a", "type_b")
  }

  /** r10b: degree-distribution census of the co-activity graph in ⌊log2⌋
    * buckets — the "is it scale-free or a uniform mesh" read the census
    * scalars (`graph_degree_assortativity`'s one slope, `graph_rich_club`'s
    * ladder) summarize but never show: a relay fleet is a tight bell, a
    * hub-and-spoke deployment a power tail. EXACTNESS: the bucket is the
    * binary-string length ⌊log2 deg⌋ = length(bin(deg)) − 1 — the
    * libm-free house idiom whose last ulp can never sit on a power-of-2
    * boundary; counts and min/max per bucket are pure integers. SCALE:
    * rides the memoized census degree frame; output ≤ 64 rows. */
  def graphDegreeHistogram(events: DataFrame): DataFrame = {
    val edges = coActivityEdges(events)
    val deg = Memo.frame(events, "triangle-degrees-minute") { edgeDegrees(edges) }
    deg
      .withColumn("bucket", (length(bin(col("deg"))) - 1).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_nodes"),
        min(col("deg")).as("min_deg"), max(col("deg")).as("max_deg"))
      .orderBy("bucket")
  }

  /** r11: average neighbor degree by degree class, knn(k) — the CURVE
    * behind [[graphDegreeAssortativity]]'s single coefficient (Pastor-
    * Satorras/Vázquez/Vespignani's k_nn(k)): a falling curve says hubs
    * attach to leaves (disassortative — infrastructure/mesh topology), a
    * rising one says hubs cluster with hubs (social core). One scalar
    * can't show a mixed regime; the curve is degree-bounded rows.
    *
    * EXACTNESS — no mean-of-means float trap: within a degree class k
    * every node's neighbor-mean shares the denominator k, so
    * knn(k) = (Σ_v Σ_w deg(w)) / (k·n_k) — pure INTEGER sums with ONE
    * final divide (the `graph_resource_alloc` philosophy: never sum
    * already-divided floats). Plan: memoized census edges + degree frame,
    * a 2-struct explode to directed incidence, one equi-join onto the
    * node-bounded degree frame (AQE decides the strategy), two hash aggs
    * — no wedge join, linear in |E| at any density. */
  def graphAvgNeighborDegree(events: DataFrame): DataFrame = {
    val edges = coActivityEdges(events)
    val deg = Memo.frame(events, "triangle-degrees-minute") { edgeDegrees(edges) }
    val directed = edges.select(explode(array(
      struct(col("a").as("v"), col("b").as("w")),
      struct(col("b").as("v"), col("a").as("w")))).as("e"))
      .select(col("e.v"), col("e.w"))
    val perNode = directed
      .join(deg.select(col("v").as("w"), col("deg").as("deg_w")), Seq("w"))
      .groupBy(col("v")).agg(sum(col("deg_w")).as("s"))
    perNode.join(deg, Seq("v"))
      .groupBy(col("deg"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("s")).as("sum_neighbor_deg"))
      .select(col("deg").as("degree"), col("n_nodes"), col("sum_neighbor_deg"),
        (col("sum_neighbor_deg").cast("double") /
          (col("deg") * col("n_nodes")).cast("double")).as("avg_neighbor_degree"))
      .orderBy("degree")
  }

  /** r10b: lcm(1..64) — the common denominator that makes every capped
    * resource-allocation weight 1/deg(w) an EXACT integer L/deg(w).
    * ≈ 1.18·10²⁷: comfortably inside DECIMAL(38,0) with room for ~10¹⁰
    * summed witnesses on top. */
  private[graft] val RA_LCM: java.math.BigDecimal = {
    def gcd(a: BigInt, b: BigInt): BigInt = if (b == 0) a else gcd(b, a % b)
    val l = (1 to 64).map(BigInt(_)).reduce((a, b) => a / gcd(a, b) * b)
    new java.math.BigDecimal(l.bigInteger)
  }

  /** r10b: resource-allocation link prediction over the co-activity graph
    * — [[graphLinkJaccard]]'s hub-discounting sibling: Jaccard counts
    * common neighbors equally, RA(a,b) = Σ_{w∈CN} 1/deg(w) weights each
    * witness by how EXCLUSIVE it is (a shared 3-contact clique member
    * says much more than a shared broadcast hub — Zhou/Lü/Zhang 2009,
    * the strongest of the simple local indices on most graphs).
    *
    * BORN CAPPED: witnesses are restricted to deg(w) ≤ 64 by contract
    * (the `graph_link_jaccard_capped` discipline) — both the SCALE bound
    * (wedge work Σ_{deg≤cap} deg² ≤ 2·cap·|E|, linear in edges at any
    * density) and the EXACTNESS device: with L = lcm(1..64) (≈1.18·10²⁷,
    * an exact DECIMAL(38,0)), every weight is the exact integer L/deg(w),
    * the per-pair score numerator accumulates EXACTLY in any order, and
    * ra = num/L is ONE double divide — no float sum ever exists, so the
    * oracle hash-matches bit for bit. Hub discounting is also why the
    * cap costs little: the dropped witnesses are precisely the ones RA
    * itself weights toward zero (1/deg > 64 < 1.6% of a clique witness).
    * Plan: memoized census edges, capped witness wedge join, LEFT ANTI
    * on existing edges, integer top-k by (num, a, b) via sort+limit. */
  def graphResourceAlloc(events: DataFrame, k: Int = 20,
                         maxWitnessDeg: Long = 64L): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val edges = coActivityEdges(events)
    val nbrs = edges.select(col("a").as("v"), col("b").as("w"))
      .union(edges.select(col("b").as("v"), col("a").as("w")))
    val deg = nbrs.groupBy(col("v")).agg(count(lit(1)).as("deg"))
    // exact integer weights L/d, d = 1..64, precomputed (Spark's `div`
    // returns BIGINT and L ≈ 1.18e27 overflows it; the 64-slot decimal
    // array keeps every weight an exact DECIMAL(38,0))
    require(maxWitnessDeg >= 1 && maxWitnessDeg <= 64,
      s"graph_resource_alloc: maxWitnessDeg must be in [1, 64] (lcm base), got $maxWitnessDeg")
    val wtArr = array((1 to maxWitnessDeg.toInt).map(d => lit(new java.math.BigDecimal(
      RA_LCM.toBigInteger.divide(java.math.BigInteger.valueOf(d.toLong))))
      .cast(dec)): _*)
    val witnesses = nbrs
      .join(deg.filter(col("deg") <= maxWitnessDeg)
        .select(col("v").as("w"), col("deg").as("wdeg")), Seq("w"))
      .withColumn("wt", element_at(wtArr, col("wdeg").cast("int")))
    val scored = witnesses.as("n1")
      .join(witnesses.as("n2"), col("n1.w") === col("n2.w") &&
        col("n1.v") < col("n2.v"))
      .groupBy(col("n1.v").as("a"), col("n2.v").as("b"))
      .agg(count(lit(1)).as("common"), sum(col("n1.wt")).as("num"))
      .join(edges, Seq("a", "b"), "left_anti")
    val d2 = graft.Det.decToDouble _
    val top = scored
      .orderBy(col("num").desc, col("a"), col("b")).limit(k)
    val w = Window.orderBy(col("num").desc, col("a"), col("b"))
    top
      .withColumn("rn", row_number().over(w).cast("long"))
      .select(col("rn"), col("a"), col("b"), col("common"),
        (d2(col("num")) / d2(lit(RA_LCM).cast(dec))).as("ra_score"))
      .orderBy("rn")
  }

  /** r10b: BFS hop histogram from the graph's top hub — the REACH view
    * the census family lacks: triangles/clustering say how locally dense
    * the co-activity graph is, the hop census says how FAR the structure
    * extends (a relay mesh reaches the fleet in 2–3 hops; a fragmented
    * deployment leaves an unreachable remainder, reported as hop −1).
    * Fixed 6 rounds (beyond 6 hops the frontier is noise at any realistic
    * fleet diameter — stated contract).
    *
    * EXACTNESS: pure set arithmetic — frontier expansion is an equi-join,
    * first-reach wins via LEFT ANTI against the visited set, counts are
    * integers; the oracle's recursive CTE (UNION-deduped (node, hop)
    * working set, work ≤ 7·2|E|) lands the identical min-hop layers.
    * SCALE: each round is one frontier⋈edges equi-join bounded by Σdeg;
    * rounds are capped at 6 with an EARLY EXIT on an empty frontier, and
    * every round frame is cut with a lazy `localCheckpoint` whose
    * materializing action is the round's own frontier-count probe (the
    * `ccComponents` fixpoint discipline — without the cut, six rounds of
    * union∘anti-join lineage snowball Catalyst/AQE re-analysis into
    * minutes of pure planning, measured 135 s at sf0.001 before the
    * cut, sub-second after). Hub choice (max degree, ties by id) is one
    * 1-row bounded collect; the ≤6 count probes are the same bounded
    * pre-flight class. */
  def graphHopHistogram(events: DataFrame, maxHops: Int = 6): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val edges = coActivityEdges(events)
    val nbrs = Memo.frame(events, "hop-nbrs-minute") {
      edges.select(col("a").as("v"), col("b").as("w"))
        .union(edges.select(col("b").as("v"), col("a").as("w")))
    }
    val deg = nbrs.groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val hubRow = deg.orderBy(col("deg").desc, col("v")).limit(1)
      .select(col("v")).collect() // 1-row bounded hub probe
    if (hubRow.isEmpty) {
      Seq.empty[(Long, Long)].toDF("hop", "n_nodes")
    } else {
      val hub = hubRow(0).getLong(0)
      var reached = Seq((hub, 0L)).toDF("node", "hop").localCheckpoint(false)
      var frontier = Seq(hub).toDF("node").localCheckpoint(false)
      var i = 1
      var more = true
      while (i <= maxHops && more) {
        val next = frontier.join(nbrs, col("node") === col("v"))
          .select(col("w").as("node")).distinct()
          .join(reached, Seq("node"), "left_anti")
          .withColumn("hop", lit(i.toLong))
          .localCheckpoint(false)
        if (next.count() == 0L) more = false // bounded round probe
        else {
          reached = reached.union(next).localCheckpoint(false)
          frontier = next.select(col("node")).localCheckpoint(false)
        }
        i += 1
      }
      val hist = reached.groupBy(col("hop"))
        .agg(count(lit(1)).as("n_nodes"))
      val unreached = deg.select(col("v").as("node"))
        .join(reached, Seq("node"), "left_anti")
        .agg(count(lit(1)).as("n_nodes"))
        .select(lit(-1L).as("hop"), col("n_nodes"))
        .filter(col("n_nodes") > 0)
      hist.unionByName(unreached).orderBy("hop")
    }
  }
}

/** The per-day linear sweep behind [[Sessions.joinIntervalOverlap]]:
  * consumes a partition's session-day rows sorted by (day_us, s_us,
  * user_id, session_num) and emits every overlapping session pair exactly
  * once — a pair is emitted by the day containing the LATER start, i.e.
  * when the incoming row's start lies inside the current day, against the
  * active set (rows of the same day whose end exceeds the incoming
  * start). Both the pairing predicate and the ownership rule are pure
  * value comparisons, so the emitted SET is independent of partitioning
  * and processing order. Input tuples: (day_us, user_id, session_num,
  * s_us, e_us); output: (user_a, sess_a, user_b, sess_b, overlap_us)
  * with user_a < user_b.
  *
  * r13 OPT note (measured, kept as-is): an in-closure partial aggregation
  * of episodes to (pair → count, Σoverlap) was built and A/B'd at sf0.1 —
  * it ran ~1 s SLOWER than this per-episode emission (boxed HashMap
  * updates lose to the codegen'd downstream HashAggregate), and the
  * emission-only probe put the typed-boundary conversion at < 0.5 s of
  * the family's cost. The family is output-cardinality-bound (1.1 M pair
  * rows at sf0.1 through agg + order + sink — work-∝-output by contract),
  * so the r12 shape stands. */
private[ext] object IntervalSweep {
  private type In = (Long, Long, Long, Long, Long)
  private type Out = (Long, Long, Long, Long, Long)

  def run(rows: Iterator[In]): Iterator[Out] = new Iterator[Out] {
    private val in = rows.buffered
    private val out = scala.collection.mutable.Queue.empty[Out]
    // (user, sess, s, e) of the current day, pruned as starts advance
    private val active = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    private var curDay = Long.MinValue
    private var haveDay = false

    override def hasNext: Boolean = { pump(); out.nonEmpty }
    override def next(): Out = { pump(); out.dequeue() }

    private def pump(): Unit = while (out.isEmpty && in.hasNext) {
      val (day, u, sess, sU, eU) = in.next()
      if (!haveDay || day != curDay) { curDay = day; haveDay = true; active.clear() }
      // prune: e_j <= s_i can never overlap anything from here on (starts
      // only grow within the day)
      var w = 0
      var r = 0
      while (r < active.length) {
        if (active(r)._4 > sU) { if (w != r) active(w) = active(r); w += 1 }
        r += 1
      }
      active.remove(w, active.length - w)
      // ownership: only pairs whose later start (= s_i) falls in this day;
      // midnight-spanning rows (s_i < day) pair up in their owning day
      if (sU >= day) {
        active.foreach { case (uj, sessj, sj, ej) =>
          if (uj != u) {
            // s_j <= s_i by sort order, e_j > s_i by the prune above
            val overlap = math.min(eU, ej) - sU
            if (overlap > 0) {
              if (u < uj) out.enqueue((u, sess, uj, sessj, overlap))
              else out.enqueue((uj, sessj, u, sess, overlap))
            }
          }
        }
      }
      active += ((u, sess, sU, eU))
    }
  }
}
