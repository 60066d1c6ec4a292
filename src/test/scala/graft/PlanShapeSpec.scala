package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** r5: plan-shape snapshot over EVERY declared query (r4 verdict item 5).
  *
  * [[PlanLintSpec]] catches the two outright anti-patterns; this spec
  * pins the whole operator SHAPE of each query — join strategy, exchange
  * kind and count, aggregate flavor, window/generate/expand nodes — to a
  * checked-in snapshot, so an optimizer upgrade or a refactor that loses
  * a broadcast (BHJ→SMJ), adds a shuffle, or drops a partial aggregate
  * fails a test naming the query instead of only drifting the bench.
  *
  * Regenerate intentionally with GRAFT_REGEN_PLANS=1 (rewrites the
  * snapshot file, then passes); the diff then shows up in `git diff`
  * where a reviewer adjudicates it. Full formatted plans are dumped to
  * target/plans/<query>.txt on every run for human diffing. */
class PlanShapeSpec extends SparkSpec {

  val sf = "/root/testdata/sf0.001"
  private val snapshotPath = Paths.get("src/test/resources/plan_shapes.tsv")
  private val dumpDir = Paths.get("target/plans")

  /** Operator classes worth pinning; \b keeps Window from matching
    * WindowGroupLimit and Sort from matching SortMergeJoin. */
  private val ops = Seq(
    "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
    "BroadcastNestedLoopJoin", "CartesianProduct",
    "BroadcastExchange", "HashAggregate", "ObjectHashAggregate",
    "SortAggregate", "Window", "WindowGroupLimit", "WindowInPandas",
    "Generate", "Expand", "Sort")
  private val exchanges = Seq(
    "shuffle_hash" -> "Exchange hashpartitioning",
    "shuffle_range" -> "Exchange rangepartitioning",
    "shuffle_single" -> "Exchange SinglePartition")

  private def shapeOf(plan: String): String = {
    val opCounts = ops.flatMap { op =>
      val n = ("\\b" + op + "\\b").r.findAllIn(plan).size
      if (n > 0) Some(s"$op=$n") else None
    }
    val exCounts = exchanges.flatMap { case (label, pat) =>
      val n = java.util.regex.Pattern.quote(pat).r.findAllIn(plan).size
      if (n > 0) Some(s"$label=$n") else None
    }
    (opCounts ++ exCounts).mkString(" ")
  }

  test("every declared query's plan shape matches the checked-in snapshot") {
    // shapes must be the COLD plans, per query: clearing once up front is
    // not enough (r7 in-suite drift) — a shared memo frame built by an
    // EARLIER query in this very loop (and materialized by a driver-side
    // fixpoint like dedup_clusters') surfaces in LATER queries' plans as
    // an InMemoryRelation whose cached-plan exchange count depends on
    // materialization/AQE-finalization state at print time. Rebuilding
    // every query from an empty cache makes the captured shape a function
    // of the query alone, identical in-suite and isolated.
    Files.createDirectories(dumpDir)
    // r14 (VERDICT r13 #6): the collected-fixpoint queries run their
    // data-scaled pass at CONSTRUCTION time, so their query plan is just a
    // LocalTableScan — pin the pre-collect frames' plans too, or a
    // regression in that pass (dropping the groupBy and collecting
    // data-scaled rows) would never trip this spec. The `__prepass`
    // entries are plan-only (never collected here).
    val prepasses: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "events_markov_absorption__prepass" ->
        (() => ext.Sessions.markovPrepass(Tables.events(spark, sf))),
      "events_markov_stationary__prepass" ->
        (() => ext.Sessions.markovPrepass(Tables.events(spark, sf))),
      "graph_pagerank_types__prepass" ->
        (() => ext.Sessions.pagerankPrepass(Tables.events(spark, sf))),
      "sample_neyman_alloc__prepass" ->
        (() => ext.Sampling.neymanPrepass(Tables.documents(spark, sf))),
      "stat_gesd_outliers__prepass" ->
        (() => graft.ops.Inference.gesdPrepass(Tables.events(spark, sf))))
    val all: Seq[(String, () => org.apache.spark.sql.DataFrame)] =
      SparkEntry.queries.toSeq.map { case (n, fn) =>
        n -> (() => fn(spark, sf)) } ++ prepasses
    val current = all.sortBy(_._1).map { case (name, fn) =>
      Memo.releaseAll(spark)
      spark.catalog.clearCache()
      val plan = fn().queryExecution.executedPlan.toString
      Files.write(dumpDir.resolve(s"$name.txt"), plan.getBytes(UTF_8))
      name -> shapeOf(plan)
    }
    val rendered = current.map { case (n, s) => s"$n\t$s" }.mkString("\n") + "\n"

    if (sys.env.contains("GRAFT_REGEN_PLANS")) {
      Files.createDirectories(snapshotPath.getParent)
      Files.write(snapshotPath, rendered.getBytes(UTF_8))
      info(s"snapshot regenerated: $snapshotPath (${current.size} queries)")
    } else {
      assert(Files.exists(snapshotPath),
        s"no snapshot at $snapshotPath — run once with GRAFT_REGEN_PLANS=1")
      val want = new String(Files.readAllBytes(snapshotPath), UTF_8)
        .linesIterator.filter(_.nonEmpty).map { l =>
          val Array(n, s @ _*) = l.split("\t", 2): @unchecked
          n -> s.headOption.getOrElse("")
        }.toMap
      val diffs = scala.collection.mutable.ListBuffer.empty[String]
      current.foreach { case (name, got) =>
        want.get(name) match {
          case None => diffs += s"$name: NEW query — regenerate the snapshot"
          case Some(exp) if exp != got =>
            diffs += s"$name:\n  snapshot: $exp\n  current : $got"
          case _ => ()
        }
      }
      want.keySet.diff(current.map(_._1).toSet).foreach { gone =>
        diffs += s"$gone: query removed — regenerate the snapshot"
      }
      assert(diffs.isEmpty,
        s"plan shapes drifted (GRAFT_REGEN_PLANS=1 to accept):\n${diffs.mkString("\n")}")
    }
  }

  /** r6 ADVICE residue (pinned r8): `Dist.rankByRange` persists `parted`
    * so the stats agg and the rank join both read ONE materialization —
    * single evaluation of the range exchange is what makes the sampled
    * boundaries a frozen fact (two evaluations could land different
    * boundaries → silently wrong ranks). The persist is load-bearing but
    * was untested: a refactor dropping it would compile, pass the oracle
    * at small SF, and only corrupt ranks under nondeterministic upstream
    * timing. Pin it structurally: every rankByRange consumer's plan must
    * read the parted frame through InMemoryTableScan in BOTH branches. */
  test("Dist.rankByRange single evaluation is structural (persist pinned)") {
    Memo.releaseAll(spark)
    spark.catalog.clearCache()
    for (q <- Seq("stat_gini_revenue", "events_rfm_scores", "events_pareto_deciles")) {
      val plan = SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString
      val scans = "\\bInMemoryTableScan\\b".r.findAllIn(plan).size
      assert(scans >= 2,
        s"$q: expected >=2 InMemoryTableScan (stats + rank-join branches " +
          s"over rankByRange's persisted frame), got $scans — was the " +
          "persist in Dist.rankByRange dropped?")
    }
  }
}
