package graftbench

import java.io.{File, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** Entry point of the benchmark JVM.
  *
  * {{{
  * prepare --data DIR --sf X                 generate the fixture tables
  * run --workload W --seed N --seconds S --trace 0|1 --data DIR --out DIR
  *     --queries FILE --expected FILE --deadline-s D
  * }}}
  * A run writes `result.json` (the contract record), `detail.json` (every
  * figure with its sample count, the checks and, traced, the self-time
  * ranking) and, traced, `spans.jsonl` into `--out`. */
object Main {
  val Workloads: Seq[String] = Seq("queries", "session", "ingest_mqtt")

  /** Per-layer metrics and their units; a layer a workload leaves idle
    * reports 0. */
  val Layers: Seq[(String, String)] = Seq(
    "tables.load_ms" -> "ms", "tables.jobs" -> "jobs/load",
    "construct.ms" -> "ms", "construct.jobs" -> "count",
    "memo.builds" -> "count", "memo.hits" -> "count", "memo.hit_ratio" -> "ratio",
    "memo.cached_bytes" -> "bytes", "memo.release_ms" -> "ms",
    "plan.analysis_ms" -> "ms", "plan.optimization_ms" -> "ms", "plan.planning_ms" -> "ms",
    "exec.ms" -> "ms", "exec.jobs" -> "count", "exec.tasks" -> "count",
    "exec.task_run_ms" -> "ms", "exec.task_cpu_ms" -> "ms", "exec.busy_frac" -> "ratio",
    "exec.shuffle_read_bytes" -> "bytes", "exec.shuffle_write_bytes" -> "bytes",
    "exec.spill_bytes" -> "bytes",
    "mqtt.backlog_max" -> "msgs", "mqtt.latestOffset_ms" -> "ms",
    "gen.late_p99_ms" -> "ms", "gen.late_max_ms" -> "ms",
    "ingest.batches" -> "count", "ingest.batch_rows_p50" -> "rows",
    "ingest.addBatch_ms_p50" -> "ms", "ingest.addBatch_ms_per_krow" -> "ms/krow",
    "ingest.queryPlanning_ms_p50" -> "ms", "ingest.walCommit_ms_p50" -> "ms",
    "ingest.commitOffsets_ms_p50" -> "ms", "ingest.sink_files" -> "count",
    "ingest.sink_bytes" -> "bytes",
    "heartbeat.state_rows" -> "rows", "heartbeat.state_mem_bytes" -> "bytes",
    "heartbeat.state_update_ms" -> "ms", "heartbeat.batch_ms_p50" -> "ms",
    "heartbeat.events" -> "count")

  /** `--key value` pairs; a `--key` followed by another flag is a switch. */
  private def flags(args: List[String]): Map[String, String] = args match {
    case k :: v :: rest if k.startsWith("--") && !v.startsWith("--") => flags(rest) + (k.drop(2) -> v)
    case k :: rest if k.startsWith("--") => flags(rest) + (k.drop(2) -> "")
    case _ :: rest => flags(rest)
    case Nil => Map.empty
  }

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("prepare") =>
      val f = flags(args.toList.tail)
      Fixtures.prepare(f("data"), f("sf").toDouble)
    case Some("run") => run(flags(args.toList.tail))
    case _ =>
      System.err.println("usage: graftbench.Main prepare|run ...")
      sys.exit(2)
  }

  private def lines(path: String): Seq[String] =
    new String(Files.readAllBytes(Paths.get(path)), UTF_8).linesIterator
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toSeq

  private def run(f: Map[String, String]): Unit = {
    val out = f("out")
    new File(out).mkdirs()
    val tee = MemoTee.install(new FileOutputStream(s"$out/stderr.log"))
    val o = Opts(
      workload = f("workload"), seed = f("seed").toLong, seconds = f("seconds").toInt,
      trace = f("trace") == "1", data = f("data"), out = out,
      queries = lines(f("queries")),
      expected = if (new File(f("expected")).exists)
        lines(f("expected")).map(_.split("\t")).collect { case Array(q, d) => q -> d }.toMap else Map.empty)
    require(Workloads.contains(o.workload), s"unknown workload ${o.workload}; one of ${Workloads.mkString(", ")}")
    val deadlineMs = Clock.ms + f("deadline-s").toDouble * 1000
    val watchdog = new Thread(() => {
      while (Clock.ms < deadlineMs) Thread.sleep(200)
      Harness.expired = true
      org.apache.spark.sql.SparkSession.getDefaultSession.foreach(_.sparkContext.cancelAllJobs())
    }, "bench-deadline")
    watchdog.setDaemon(true)
    watchdog.start()

    val trace = new Trace(o.trace)
    val outcome = if (o.workload == "ingest_mqtt") StreamLoad.run(o, trace) else BatchLoad.run(o, trace, tee)

    // The contract record carries numbers only. An end-to-end figure that
    // could not be measured fails the run and reads as the deadline in its
    // unit, worse than any figure a finished run can report; the full
    // record keeps it as null. A per-layer figure of a layer the workload
    // left idle (n = 0) reads 0.
    val unmeasured = outcome.endToEnd.toSeq.filter { case (_, m) => m.value.isNaN || m.value.isInfinite }.map(_._1)
    val r = outcome.copy(checks = outcome.checks ++ unmeasured.sorted.map(k => (s"measured:$k", false, "no value")))
    val deadlineS = f("deadline-s").toDouble
    def sentinel(unit: String) = unit match { case "ms" => deadlineS * 1000; case _ => deadlineS }
    def metrics(ms: Seq[(String, Metric)], missing: String => Double) = Json.Obj(ms.map { case (k, m) =>
      k -> Json.obj("value" -> (if (m.value.isNaN || m.value.isInfinite) missing(m.unit) else m.value), "unit" -> m.unit) })
    val layers = Layers.map { case (k, unit) => k -> r.layers.getOrElse(k, Metric(0.0, unit, 0)).copy(unit = unit) }
    val result = Json.obj(
      "correct" -> r.correct, "attempted" -> r.attempted, "failed" -> r.failed,
      "metrics" -> (if (o.trace) metrics(layers, _ => 0.0) else metrics(r.endToEnd.toSeq.sortBy(_._1), sentinel)))
    def withN(ms: Seq[(String, Metric)]) =
      Json.Obj(ms.map { case (k, m) => k -> Json.obj("value" -> m.value, "unit" -> m.unit, "n" -> m.n) })
    val detail = Json.obj(
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds, "trace" -> o.trace,
      "cores" -> o.cores, "correct" -> r.correct, "attempted" -> r.attempted, "failed" -> r.failed,
      "end_to_end" -> withN(r.endToEnd.toSeq.sortBy(_._1)),
      "detail" -> withN(r.detail.toSeq.sortBy(_._1)),
      "per_layer" -> (if (o.trace) withN(layers) else null),
      "self_time_ms" -> (if (o.trace) Json.Obj(r.ranking) else null),
      "checks" -> r.checks.map { case (name, ok, note) => Json.obj("check" -> name, "ok" -> ok, "note" -> note) },
      "digests" -> Json.Obj(r.digests.toSeq.sortBy(_._1)),
      "info" -> Json.Obj(r.info))
    Files.write(Paths.get(s"$out/detail.json"), (Json.write(detail) + "\n").getBytes(UTF_8))
    if (o.trace) Files.write(Paths.get(s"$out/spans.jsonl"), r.spans.map(s => Json.write(Json.obj(
      "id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs)) + "\n").mkString.getBytes(UTF_8))
    Files.write(Paths.get(s"$out/result.json"), (Json.write(result) + "\n").getBytes(UTF_8))
  }
}
