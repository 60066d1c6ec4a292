package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{SparkEntry, Tables}
import graft.ext.Dedup

/** The two read-path workloads over the generated fixture tables.
  *
  *  - `queries`: before each query the memos and the catalog cache are
  *    released; the query is then built (timed) and executed to the noop
  *    sink (timed), and at once built and executed again (warm).
  *  - `session`: the same queries once each, in an order the seed
  *    permutes, with no releases, so the memo and cache hit paths work.
  *
  * Result digests are computed after the timed calls. */
object BatchLoad {
  /** Untimed JIT warm-up after set-up; none is in the measured set. */
  val WarmUp: Seq[String] = Seq("limit_head", "window_bollinger", "tpch_promo_revenue")

  val Loaders: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "region" -> Tables.region, "nation" -> Tables.nation, "customer" -> Tables.customer,
    "supplier" -> Tables.supplier, "part" -> Tables.part, "orders" -> Tables.orders,
    "lineitem" -> Tables.lineitem, "events" -> Tables.events,
    "documents" -> Tables.documents, "embeddings" -> Tables.embeddings)

  /** Warm runs whose result digest is checked in one `queries` run. */
  val WarmChecked = 5

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Set-up, three times over: a session with every table loaded (the
    * first also starts the SparkContext the others share). The last session
    * is kept and warmed up once, untimed. */
  private def setup(o: Opts, trace: Trace): (SparkSession, Seq[Double]) = {
    var spark: SparkSession = null
    val times = (1 to 3).map { _ =>
      val t0 = Clock.ms
      spark = if (spark == null) Harness.newSession(o) else spark.newSession()
      Loaders.foreach { case (_, load) => load(spark, o.data) }
      Clock.ms - t0
    }
    WarmUp.foreach(q => noop(SparkEntry.queries(q)(spark, o.data)))
    trace.attach(spark)
    (spark, times)
  }

  /** One timed run of a query: its build and execute spans. */
  private final case class Run(build: Span, exec: Span, df: DataFrame) {
    def ms: Double = build.ms + exec.ms
  }

  def run(o: Opts, trace: Trace, tee: MemoTee): Outcome = {
    val missing = o.queries.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    var (spark, setupMs) = setup(o, trace)
    val failures = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    // Catalyst analysis runs when a query is built, so it is read from the
    // built frame; optimization and planning from the executing command
    val analysisMs = scala.collection.mutable.ArrayBuffer.empty[Double]

    def attempt(q: String, tag: String): Option[Run] =
      if (Harness.expired) { failures += (s"$q:$tag" -> "deadline passed"); None }
      else try {
        val (df, b) = trace.timed("construct", s"$q:$tag")(SparkEntry.queries(q)(spark, o.data))
        if (trace.enabled) df.queryExecution.tracker.phases.get("analysis")
          .foreach(p => analysisMs += p.durationMs.toDouble)
        val (_, e) = trace.timed("exec", s"$q:$tag")(noop(df))
        Some(Run(b, e, df))
      } catch { case e: Throwable =>
        failures += (s"$q:$tag" -> Harness.message(e))
        if (spark.sparkContext.isStopped) {
          SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
          spark = Harness.newSession(o); trace.attach(spark)
        }
        None
      }

    def release(q: String): Unit = trace.span("memo.release", q) {
      Dedup.clearSharedCache(spark); spark.catalog.clearCache()
    }

    var maxCached = 0.0
    def sampleCache(): Unit = if (trace.enabled) maxCached = math.max(maxCached,
      spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble)

    if (trace.enabled) Loaders.foreach { case (t, load) => trace.span("tables", s"load:$t")(load(spark, o.data)) }
    val memo0 = (tee.builds.get, tee.hits.get)
    val t0 = Clock.ms
    // (query, first run, repeat run): cold and warm for `queries`, the one
    // session run for `session`
    val runs: Seq[(String, Option[Run], Option[Run])] = o.workload match {
      case "queries" => o.queries.map { q =>
        release(q)
        val cold = attempt(q, "cold")
        val warm = attempt(q, "warm")
        sampleCache()
        (q, cold, warm)
      }
      case "session" =>
        release("session")
        new scala.util.Random(o.seed).shuffle(o.queries).map { q =>
          val r = attempt(q, "session")
          sampleCache()
          (q, r, None)
        }
    }
    val t1 = Clock.ms

    // output checks: each first-run digest matches the committed one, and
    // for a seeded sample of WarmChecked queries the warm run agrees with
    // the cold one (a digest re-executes the query, so checking every warm
    // run would add a third execution of each; across seeds every query's
    // warm run is checked)
    val warmChecked = new scala.util.Random(o.seed)
      .shuffle(runs.filter(_._3.isDefined).map(_._1)).take(WarmChecked).toSet
    val got = trace.span("digest", "all")(Digest.ofAll(runs.flatMap { case (q, a, b) =>
      a.map(r => s"$q/first" -> r.df) ++ b.filter(_ => warmChecked(q)).map(r => s"$q/repeat" -> r.df) }))
    val digests = runs.map { case (q, _, _) =>
      val da = got.get(s"$q/first")
      (q, da, if (warmChecked(q)) got.get(s"$q/repeat") else da)
    }
    val t2 = Clock.ms
    val checks = digests.map { case (q, a, b) =>
      val exp = o.expected.get(q)
      val ok = a.isDefined && a == b && exp == a
      (s"digest:$q", ok, s"got=${a.getOrElse("-")} repeat=${b.getOrElse("-")} expected=${exp.getOrElse("-")}")
    }
    val attempted = runs.size * (if (o.workload == "queries") 2 else 1)
    val failed = failures.size
    val firstMs = runs.flatMap(_._2).map(_.ms)
    val repeatMs = runs.flatMap(_._3).map(_.ms)
    val setupS = Harness.p50(setupMs.map(_ / 1000), "s")

    val detail = Map(
      "setup_s" -> setupS,
      "failed_frac" -> Metric(failed.toDouble / attempted, "ratio", attempted)) ++ (o.workload match {
      case "queries" => Map(
        "cold_total_s" -> Metric(firstMs.sum / 1000, "s", firstMs.size),
        "cold_query_p50_s" -> Harness.p50(firstMs.map(_ / 1000), "s"),
        "warm_total_s" -> Metric(repeatMs.sum / 1000, "s", repeatMs.size),
        "warm_query_p50_s" -> Harness.p50(repeatMs.map(_ / 1000), "s"))
      case _ => Map(
        "session_wall_s" -> Metric((t1 - t0) / 1000, "s", firstMs.size),
        "session_query_p50_s" -> Harness.p50(firstMs.map(_ / 1000), "s"))
    })
    val endToEnd = Map(
      "setup_s" -> setupS,
      "total_s" -> detail(if (o.workload == "queries") "cold_total_s" else "session_wall_s"),
      "p50_ms" -> Harness.p50(firstMs, "ms"))

    val layers = if (trace.enabled) layerMetrics(o, trace, t0, t1, tee, memo0, maxCached) +
      ("plan.analysis_ms" -> Harness.mean(analysisMs.toSeq, "ms")) else Map.empty[String, Metric]
    val spans = if (trace.enabled) withListenerSpans(trace) else Nil
    Harness.stopSession(spark)
    Outcome(attempted, failed,
      checks ++ failures.map { case (k, e) => (s"error:$k", false, e) },
      endToEnd, detail, layers, Trace.selfTimeByLayer(spans), spans,
      digests.flatMap { case (q, a, _) => a.map(q -> _) }.toMap,
      Seq("phase_s" -> Json.obj("setup" -> setupMs.sum / 1000, "pass" -> (t1 - t0) / 1000,
          "digests" -> (t2 - t1) / 1000),
        "query_ms" -> Json.Obj(runs.map { case (q, a, b) =>
          q -> Json.obj("first" -> a.map(_.ms), "repeat" -> b.map(_.ms)) })))
  }

  private def layerMetrics(o: Opts, trace: Trace, t0: Double, t1: Double, tee: MemoTee,
                           memo0: (Long, Long), maxCached: Double): Map[String, Metric] = {
    val spans = trace.allSpans
    val inPass = spans.filter(s => s.startMs >= t0 && s.endMs <= t1)
    val loads = spans.filter(_.layer == "tables")
    val byId = spans.map(s => s.id -> s).toMap
    val jobs = trace.jobs.values().toArray(Array.empty[JobRec]).toSeq
    def jobsOf(layer: String) = jobs.filter(j => byId.get(j.span).exists(_.layer == layer))
    val constructJobs = jobsOf("construct").filter(s => !s.isTableLoad && s.startMs >= t0)
    val execSpans = inPass.filter(_.layer == "exec")
    val execJobs = jobsOf("exec").filter(_.startMs >= t0)
    val plans = trace.plans.toArray(Array.empty[PlanRec]).toSeq.filter(p =>
      p.phases.get("planning").exists { case (a, _) => execSpans.exists(s => a >= s.startMs && a <= s.endMs) })
    def phase(name: String) = Harness.mean(plans.flatMap(_.phases.get(name)).map { case (a, b) => b - a }, "ms")
    val builds = tee.builds.get - memo0._1
    val hits = tee.hits.get - memo0._2
    val runMs = execJobs.map(_.runMs.get).sum.toDouble
    val execMs = execSpans.map(_.ms).sum
    Map(
      "tables.load_ms" -> Harness.p50(loads.map(_.ms), "ms"),
      "tables.jobs" -> Metric(if (loads.isEmpty) 0 else jobsOf("tables").size.toDouble / loads.size, "jobs/load", loads.size),
      "construct.ms" -> Metric(inPass.filter(_.layer == "construct").map(_.ms).sum, "ms"),
      "construct.jobs" -> Metric(constructJobs.size, "count"),
      "memo.builds" -> Metric(builds.toDouble, "count"),
      "memo.hits" -> Metric(hits.toDouble, "count"),
      "memo.hit_ratio" -> Metric(if (builds + hits == 0) 0 else hits.toDouble / (builds + hits), "ratio"),
      "memo.cached_bytes" -> Metric(maxCached, "bytes"),
      "memo.release_ms" -> Metric(inPass.filter(_.layer == "memo.release").map(_.ms).sum, "ms"),
      "plan.optimization_ms" -> phase("optimization"),
      "plan.planning_ms" -> phase("planning"),
      "exec.ms" -> Metric(execMs, "ms", execSpans.size),
      "exec.jobs" -> Metric(execJobs.size, "count"),
      "exec.tasks" -> Metric(execJobs.map(_.tasks.get).sum.toDouble, "count"),
      "exec.task_run_ms" -> Metric(runMs, "ms"),
      "exec.task_cpu_ms" -> Metric(execJobs.map(_.cpuNs.get).sum / 1e6, "ms"),
      "exec.busy_frac" -> Metric(if (execMs == 0) 0 else runMs / (execMs * o.cores), "ratio"),
      "exec.shuffle_read_bytes" -> Metric(execJobs.map(_.shuffleRead.get).sum.toDouble, "bytes"),
      "exec.shuffle_write_bytes" -> Metric(execJobs.map(_.shuffleWrite.get).sum.toDouble, "bytes"),
      "exec.spill_bytes" -> Metric(execJobs.map(_.spill.get).sum.toDouble, "bytes"))
  }

  /** Harness spans plus one span per Spark job (child of the span that
    * launched it) and per Catalyst phase (child of the exec span it ran in). */
  private def withListenerSpans(trace: Trace): Seq[Span] = {
    val spans = trace.allSpans
    val byId = spans.map(s => s.id -> s).toMap
    val jobSpans = trace.jobs.values().toArray(Array.empty[JobRec]).toSeq
      .filter(j => !j.endMs.isNaN && byId.contains(j.span)).map { j =>
        val layer = if (j.isTableLoad) "tables.job" else s"${byId(j.span).layer}.job"
        Span(trace.newId(), j.span, layer, s"job${j.jobId}", j.startMs, j.endMs)
      }
    val execs = spans.filter(_.layer == "exec")
    val planSpans = trace.plans.toArray(Array.empty[PlanRec]).toSeq.flatMap { p =>
      p.phases.toSeq.flatMap { case (name, (a, b)) =>
        execs.find(s => a >= s.startMs && a <= s.endMs).map(s =>
          Span(trace.newId(), s.id, s"plan.$name", name, a, b))
      }
    }
    spans ++ jobSpans ++ planSpans
  }
}
