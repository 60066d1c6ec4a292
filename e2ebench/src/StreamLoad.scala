package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.stream.{Heartbeat, Ingest}
import graft.stream.Heartbeat.{NodeEvent, Packet}

/** The `ingest_mqtt` workload: the reference daemon's two jobs at once,
  * fed through the benchmark's own broker by the seeded open-loop
  * [[Gen]] schedule — `Ingest.runIngestMqtt` landing epoch-idempotent
  * parquet, and `Heartbeat.monitor` over `Ingest.mqttSource`.
  *
  * Phases: untimed warm-up, a high rate (per-row cost), a low rate
  * (per-batch fixed cost), then bursts, each once the backlog is empty,
  * whose drain time measures capacity. */
object StreamLoad {
  val LowRate = 1000.0
  val HighRate = 6000.0
  /** Untimed. Micro-batches keep getting faster for the first ~40 s while
    * the JIT compiles the streaming path (README.md, Ingest traffic). */
  val WarmupS = 12.0
  /** The drain time is the median over the bursts, so one stall of the
    * shared machine does not set it. */
  val Bursts = 3
  val BurstSize = 30000
  /** Heartbeat silence threshold and check cadence (the monitor's trigger
    * interval stands for the reference's checker thread): the reference's
    * 100 min and 600 s, compressed as the generator compresses the
    * 15-minute cadence. */
  val OfflineMs: Long = Gen.offlineMs(LowRate)
  val HeartbeatTriggerMs: Long = Gen.scanMs(LowRate)

  /** The timed phases split `seconds` 40:60, the high rate first: the
    * low-rate latency, which is gated, is then measured after 24 s of
    * streaming, on a JIT close to steady, and over more batches (at 30 s
    * and on an idle 4-vCPU host, ~25 low-rate batches and ~10 high-rate
    * ones; the full record counts them). Each outage
    * lasts twice the offline threshold, so its site goes OFFLINE and
    * comes back ONLINE. */
  def plan(seconds: Int): Gen.Plan =
    Gen.Plan(LowRate, HighRate, WarmupS, lowS = 0.6 * seconds, highS = 0.4 * seconds, Bursts * BurstSize,
      outageS = 2 * OfflineMs / 1000.0)

  /** One started pair of streaming queries and what they report. */
  private final class Env(val spark: SparkSession, val broker: Broker, val dir: String) {
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]
    val events = new ConcurrentLinkedQueue[(Long, NodeEvent)]
    var ingest: StreamingQuery = _
    var heartbeat: StreamingQuery = _

    def progressOf(q: StreamingQuery): Seq[StreamingQueryProgress] =
      progress.asScala.filter(_.id == q.id).toSeq.sortBy(_.batchId)

    /** Highest offset the ingest query has committed. */
    @volatile var committed = 0L

    def stop(): Unit = {
      Seq(heartbeat, ingest).filter(_ != null).foreach(q => try q.stop() catch { case _: Throwable => () })
      broker.close()
    }
  }

  /** A session (the first also starts the SparkContext), a broker, and
    * both streaming queries subscribed to it. */
  private def start(o: Opts, trace: Trace, prev: Env, rep: Int): Env = {
    val spark = if (prev == null) Harness.newSession(o) else prev.spark.newSession()
    trace.attach(spark)
    import spark.implicits._
    val env = new Env(spark, new Broker, s"${o.out}/stream-$rep")
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        env.progress.add(e.progress)
        if (env.ingest != null && e.progress.id == env.ingest.id)
          env.committed = math.max(env.committed, offset(e.progress.sources.head.endOffset))
      }
    })
    val dim = Gen.dimension.toDF("node", "topic_id", "longname")
    env.ingest = Ingest.runIngestMqtt(spark, "127.0.0.1", env.broker.port, "msh/#", dim,
      s"${env.dir}/sink", s"${env.dir}/ckpt-ingest")
    val packets: Dataset[Packet] = Ingest.mqttSource(spark, "127.0.0.1", env.broker.port, "msh/#")
      .select(get_json_object(col("value"), "$.from").cast("long").as("node"),
        unix_millis(col("arrival")).as("ts_ms"))
      .filter(col("node").isNotNull).as[Packet]
    env.heartbeat = Heartbeat.monitor(packets, offlineMs = OfflineMs, retireMs = 3600000L)
      .writeStream.outputMode("append")
      .trigger(Trigger.ProcessingTime(HeartbeatTriggerMs))
      .option("checkpointLocation", s"${env.dir}/ckpt-heartbeat")
      .foreachBatch { (batch: Dataset[NodeEvent], id: Long) =>
        batch.collect().foreach(e => env.events.add(id -> e))
      }
      .start()
    val deadline = Clock.ms + 60000
    while (env.broker.subscribers < 2 && Clock.ms < deadline && !Harness.expired) Thread.sleep(20)
    require(env.broker.subscribers == 2, "both streaming queries subscribed to the broker")
    env
  }

  private def offset(json: String): Long =
    if (json == null || json.trim.isEmpty || json.trim == "null") 0L else json.trim.toLong

  def run(o: Opts, trace: Trace): Outcome = {
    var env: Env = null
    val setupMs = (1 to 3).map { rep =>
      if (env != null) env.stop()
      val t0 = Clock.ms
      env = start(o, trace, env, rep)
      Clock.ms - t0
    }
    val msgs = Gen.schedule(o.seed, plan(o.seconds))
    val n = msgs.length
    val dueMs = new Array[Double](n)
    val pubMs = new Array[Double](n)
    @volatile var published = 0
    val firstBurst = msgs.indexWhere(_.phase == Gen.Burst)
    val burstStart = Array.fill(Bursts)(Double.NaN)
    val t0 = Clock.ms

    // one publisher thread, open loop: each packet goes out when due, however
    // far behind the system under test is
    val publisher = new Thread(() => {
      var i = 0
      while (i < n && !Harness.expired) {
        val m = msgs(i)
        val burst = if (m.phase == Gen.Burst) (i - firstBurst) / BurstSize else -1
        if (burst >= 0 && burstStart(burst).isNaN) {
          env.broker.flush()
          val until = Clock.ms + 30000
          while (env.committed < published && Clock.ms < until && !Harness.expired) Thread.sleep(10)
          burstStart(burst) = Clock.ms
        }
        val due = if (burst >= 0) burstStart(burst) else t0 + m.dueNs / 1e6
        var now = Clock.ms
        if (due > now) {
          env.broker.flush()
          while (due > now) { LockSupport.parkNanos(((due - now) * 1e6).toLong); now = Clock.ms }
        }
        env.broker.publish(m.topic, m.payload)
        dueMs(i) = due; pubMs(i) = Clock.ms
        i += 1
        published = i
        if ((i & 255) == 0) env.broker.flush()
      }
      env.broker.flush()
    }, "bench-publisher")
    publisher.setDaemon(true)
    publisher.start()
    while (publisher.isAlive && !Harness.expired) publisher.join(100)
    while (env.committed < published && !Harness.expired) Thread.sleep(20)
    val t1 = Clock.ms
    env.stop()

    // attribution: every timed message to the ingest batch that committed it
    val ingestP = env.progressOf(env.ingest)
    val batches = ingestP.map(p => Attribution.Batch(p.batchId,
      offset(p.sources.head.startOffset), offset(p.sources.head.endOffset),
      java.time.Instant.parse(p.timestamp).toEpochMilli, p.durationMs.get("triggerExecution").longValue))
    val lat = Attribution.latencies(dueMs.take(published), batches)
    val by = Attribution.committing(published, batches)
    def idx(phase: Int) = (0 until published).filter(msgs(_).phase == phase)
    def latOf(phase: Int) = idx(phase).map(lat(_))
    // how many micro-batches stand behind a phase's latency percentiles
    def batchesOf(phase: Int) = Metric(idx(phase).flatMap(by(_)).map(_.batchId).distinct.size, "count")
    val timed = (0 until n).filter(msgs(_).phase != Gen.Warmup)
    val failed = timed.count(i => i >= published || lat(i).isNaN)
    val burstIdx = idx(Gen.Burst)
    // each burst from its start to the commit of its last message
    val drainMs = burstIdx.grouped(BurstSize).toSeq.zipWithIndex.map { case (is, b) =>
      if (is.size < BurstSize || is.exists(lat(_).isNaN)) Double.NaN
      else is.map(i => dueMs(i) + lat(i)).max - burstStart(b)
    }
    val drain = Harness.p50(if (drainMs.size < Bursts || drainMs.exists(_.isNaN)) Nil else drainMs.map(_ / 1000), "s")

    // output checks: landed rows per route equal the generator's counts,
    // and no node is reported OFFLINE twice without an ONLINE between
    val spark = env.spark
    def landed(table: String): Long =
      try spark.read.parquet(s"${env.dir}/sink/$table").count() catch { case _: Throwable => 0L }
    val sent = msgs.take(published).groupMapReduce(_.route)(_ => 1L)(_ + _)
    val routeChecks = Seq("airwise_data" -> Gen.Environment, "battery_data" -> Gen.Battery,
      "airwise_datav1" -> Gen.V1Text).map { case (table, route) =>
      val got = landed(table); val want = sent.getOrElse(route, 0L)
      (s"route:${Gen.RouteNames(route)}", got == want, s"landed=$got sent=$want")
    }
    val events = env.events.asScala.toSeq.sortBy(_._1)
    val doubled = events.groupBy(_._2.node).filter { case (_, es) =>
      es.map(_._2.event).filter(e => e == "OFFLINE" || e == "ONLINE")
        .sliding(2).exists(w => w == Seq("OFFLINE", "OFFLINE"))
    }.keys
    val checks = routeChecks ++ Seq(
      ("heartbeat:alternates", doubled.isEmpty, s"nodes with two OFFLINE in a row: ${doubled.size}"),
      ("ingest:all_committed", failed == 0, s"uncommitted=$failed of ${timed.size}"))

    val setupS = Harness.p50(setupMs.map(_ / 1000), "s")
    val detail = Map(
      "setup_s" -> setupS,
      "failed_frac" -> Metric(failed.toDouble / timed.size, "ratio", timed.size),
      "ingest_low_p50_ms" -> Harness.pct(latOf(Gen.Low), 0.5, "ms"),
      "ingest_low_p99_ms" -> Harness.pct(latOf(Gen.Low), 0.99, "ms"),
      "ingest_high_p50_ms" -> Harness.pct(latOf(Gen.High), 0.5, "ms"),
      "ingest_high_p99_ms" -> Harness.pct(latOf(Gen.High), 0.99, "ms"),
      "ingest_drain_mps" -> Metric(BurstSize / drain.value, "msg/s", drain.n),
      "ingest_low_batches" -> batchesOf(Gen.Low),
      "ingest_high_batches" -> batchesOf(Gen.High),
      "ingest_burst_batches" -> batchesOf(Gen.Burst))
    // Gated: the drain time (per-row cost at capacity) and the low-rate
    // latency (per-batch fixed cost), the two costs the phases separate;
    // the high-rate latency mixes both and stays in the full record.
    val endToEnd = Map(
      "setup_s" -> setupS,
      "total_s" -> drain,
      "p50_ms" -> detail("ingest_low_p50_ms"))

    val t2 = Clock.ms
    val timedFrom = if (published > 0) t0 + WarmupS * 1000 else t1
    val spans = if (trace.enabled) progressSpans(env, timedFrom) else Nil
    val layers =
      if (!trace.enabled) Map.empty[String, Metric]
      else layerMetrics(o, trace, env, timedFrom, t1, batches, msgs, dueMs, pubMs, published, burstStart(0), events)
    Harness.stopSession(spark)
    Outcome(timed.size, failed, checks, endToEnd, detail, layers,
      Trace.selfTimeByLayer(spans), spans,
      info = Seq("phase_s" -> Json.obj("setup" -> setupMs.sum / 1000, "publish_and_drain" -> (t1 - t0) / 1000,
        "checks" -> (t2 - t1) / 1000)))
  }

  private def ms(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  private val Parts = Seq("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets")

  /** One span per timed micro-batch and one child per reported part of it;
    * the parts have no start times, so they are laid end to end. */
  private def progressSpans(env: Env, from: Double): Seq[Span] = {
    var id = 0
    Seq("ingest" -> env.ingest, "heartbeat" -> env.heartbeat).flatMap { case (name, q) =>
      env.progressOf(q).filter(p => java.time.Instant.parse(p.timestamp).toEpochMilli >= from).flatMap { p =>
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        id += 1
        val batch = Span(id, -1, s"$name.batch", s"batch${p.batchId}", start, start + ms(p, "triggerExecution"))
        var t = start
        batch +: Parts.filter(p.durationMs.containsKey).map { k =>
          id += 1
          val s = Span(id, batch.id, s"$name.$k", k, t, t + ms(p, k)); t = s.endMs; s
        }
      }
    }
  }

  private def layerMetrics(o: Opts, trace: Trace, env: Env, from: Double, to: Double,
                           batches: Seq[Attribution.Batch], msgs: Array[Gen.Msg],
                           dueMs: Array[Double], pubMs: Array[Double], published: Int,
                           burstStart: Double, events: Seq[(Long, NodeEvent)]): Map[String, Metric] = {
    def inWindow(p: StreamingQueryProgress) = java.time.Instant.parse(p.timestamp).toEpochMilli >= from
    val ing = env.progressOf(env.ingest).filter(inWindow)
    val hb = env.progressOf(env.heartbeat).filter(inWindow)
    val rows = ing.map(_.numInputRows.toDouble)
    // backlog at each commit before the burst: published by then, less committed
    val sortedPub = pubMs.take(published).sorted
    val backlog = batches.filter(b => b.commitMs >= from && (burstStart.isNaN || b.commitMs < burstStart)).map { b =>
      val pubBy = java.util.Arrays.binarySearch(sortedPub, b.commitMs.toDouble) match {
        case i if i >= 0 => i + 1
        case i => -i - 1
      }
      (pubBy - b.endOffset).toDouble
    }
    val late = (0 until published).filter(i => msgs(i).phase == Gen.Low || msgs(i).phase == Gen.High)
      .map(i => pubMs(i) - dueMs(i))
    val jobs = trace.jobsBetween(from, to)
    val runMs = jobs.map(_.runMs.get).sum.toDouble
    val execMs = Trace.covered(jobs.filter(!_.endMs.isNaN).map(j => (j.startMs, j.endMs)), from, to)
    val plans = trace.plans.toArray(Array.empty[PlanRec]).toSeq
      .filter(_.phases.get("planning").exists { case (a, _) => a >= from && a <= to })
    def phase(name: String) = Harness.mean(plans.flatMap(_.phases.get(name)).map { case (a, b) => b - a }, "ms")
    val sink = new java.io.File(s"${env.dir}/sink")
    val files = if (sink.exists) java.nio.file.Files.walk(sink.toPath).iterator().asScala
      .map(_.toFile).filter(f => f.isFile && f.getName.endsWith(".parquet")).toSeq else Nil
    val lastState = hb.lastOption.flatMap(_.stateOperators.headOption)
    Map(
      "plan.analysis_ms" -> phase("analysis"),
      "plan.optimization_ms" -> phase("optimization"),
      "plan.planning_ms" -> phase("planning"),
      "exec.ms" -> Metric(execMs, "ms"),
      "exec.jobs" -> Metric(jobs.size, "count"),
      "exec.tasks" -> Metric(jobs.map(_.tasks.get).sum.toDouble, "count"),
      "exec.task_run_ms" -> Metric(runMs, "ms"),
      "exec.task_cpu_ms" -> Metric(jobs.map(_.cpuNs.get).sum / 1e6, "ms"),
      "exec.busy_frac" -> Metric(runMs / ((to - from) * o.cores), "ratio"),
      "exec.shuffle_read_bytes" -> Metric(jobs.map(_.shuffleRead.get).sum.toDouble, "bytes"),
      "exec.shuffle_write_bytes" -> Metric(jobs.map(_.shuffleWrite.get).sum.toDouble, "bytes"),
      "exec.spill_bytes" -> Metric(jobs.map(_.spill.get).sum.toDouble, "bytes"),
      "mqtt.backlog_max" -> Harness.pct(backlog, 1.0, "msgs"),
      "mqtt.latestOffset_ms" -> Harness.p50(ing.map(ms(_, "latestOffset")), "ms"),
      "gen.late_p99_ms" -> Harness.pct(late, 0.99, "ms"),
      "gen.late_max_ms" -> Harness.pct(late, 1.0, "ms"),
      "ingest.batches" -> Metric(ing.size, "count"),
      "ingest.batch_rows_p50" -> Harness.p50(rows, "rows"),
      "ingest.addBatch_ms_p50" -> Harness.p50(ing.map(ms(_, "addBatch")), "ms"),
      "ingest.addBatch_ms_per_krow" -> Metric(
        if (rows.sum == 0) 0 else ing.map(ms(_, "addBatch")).sum / (rows.sum / 1000), "ms/krow", ing.size),
      "ingest.queryPlanning_ms_p50" -> Harness.p50(ing.map(ms(_, "queryPlanning")), "ms"),
      "ingest.walCommit_ms_p50" -> Harness.p50(ing.map(ms(_, "walCommit")), "ms"),
      "ingest.commitOffsets_ms_p50" -> Harness.p50(ing.map(ms(_, "commitOffsets")), "ms"),
      "ingest.sink_files" -> Metric(files.size, "count"),
      "ingest.sink_bytes" -> Metric(files.map(_.length).sum.toDouble, "bytes"),
      "heartbeat.state_rows" -> Metric(lastState.map(_.numRowsTotal.toDouble).getOrElse(0.0), "rows"),
      "heartbeat.state_mem_bytes" -> Metric(lastState.map(_.memoryUsedBytes.toDouble).getOrElse(0.0), "bytes"),
      "heartbeat.state_update_ms" -> Harness.p50(hb.flatMap(_.stateOperators.headOption).map(_.allUpdatesTimeMs.toDouble), "ms"),
      "heartbeat.batch_ms_p50" -> Harness.p50(hb.map(ms(_, "triggerExecution")), "ms"),
      "heartbeat.events" -> Metric(events.size, "count"))
  }
}
