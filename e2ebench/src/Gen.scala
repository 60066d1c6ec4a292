package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

/** Seeded open-loop packet generator for the ingest workload.
  *
  * The schedule is a pure function of the seed and the phase plan: the
  * same arguments give a byte-identical packet sequence and due-time
  * schedule. Packets follow the Meshtastic JSON envelope the ingest parser
  * reads (FIXTURES.md A1).
  *
  * The traffic is the reference deployment (BASELINE.md, from
  * AIRWISEv0.py) scaled up: one site is the six nodes of `node_dict`
  * (AIRWISEv0.py:41-49), every node reports at one cadence (one report
  * per 15 min, AIRWISEv0.py:20), and a node silent for 100 min is flagged
  * offline by a checker that scans every 600 s (AIRWISEv0.py:20,99). The
  * fleet is [[Sites]] copies of that site, and time is compressed so that
  * at the low rate every node still reports once per cycle; the offline
  * threshold and the scan period keep their ratio to the cadence (see
  * [[offlineMs]], [[scanMs]]). What the reference does not state — the
  * fleet size, the split of node generations, the share of foreign
  * traffic, the outages — is synthetic and marked so below.
  */
object Gen {
  val Warmup = 0; val Low = 1; val High = 2; val Burst = 3
  val PhaseNames: Seq[String] = Seq("warmup", "low", "high", "burst")

  /** Routes, in the ingest job's own terms (Ingest.routePackets). Only the
    * first three land in a sink; nodeinfo updates the dimension and
    * unroutable packets drop. */
  val Environment = 0; val Battery = 1; val V1Text = 2; val NodeInfo = 3; val Unroutable = 4
  val RouteNames: Seq[String] = Seq("environment", "battery", "v1_text", "nodeinfo", "unroutable")

  /** One site: the six nodes of the reference's `node_dict`. */
  val SiteNodes = 6
  /** Synthetic: the reference runs one site; 50 give the heartbeat monitor
    * a few hundred keys of state, so its per-key cost shows. */
  val Sites = 50
  val Fleet: Int = SiteNodes * Sites
  /** Farm1's node id in the reference's `node_dict` (Schemas.nodeDimSeed);
    * node i of the fleet is FirstNode + i, so site 0 is that seed. */
  val FirstNode = 1127718912L
  private val DeviceEpochS = 1760748340L

  /** Synthetic: the first three nodes of a site are v0 nodes (environment
    * telemetry, AIRWISEv0.py:142-153), the last three v1 nodes (CSV in a
    * text packet, AIRWISEv1.py:130-157); the combined daemon
    * (AIRWISEv0v1comb.py) serves both generations and states no split. */
  def isV1(node: Int): Boolean = node % SiteNodes >= SiteNodes / 2

  /** Per cycle each node sends one sensor report and one device-metrics
    * (battery) report: two telemetry shapes the reference parses apart
    * (AIRWISEv0.py:126-140 and 142-153). */
  val ReportsPerCycle = 2
  /** Synthetic: the share of packets on the subscribed topic that no
    * route takes (other packet types, non-JSON bytes; dropped at
    * AIRWISEv0.py:112,155-157). The reference reads the public broker but
    * states no share; one in ten exercises the drop path without
    * dominating the rows. */
  val UnroutableShare = 0.1

  /** The reference's cadence, offline threshold and checker period. */
  val RefCadenceS = 900.0
  val RefOfflineS = 6000.0
  val RefScanS = 600.0

  /** Time compression: the reference's 15-minute cadence becomes the
    * time one cycle of the fleet takes at `lowRate`. */
  def compression(lowRate: Double): Double =
    RefCadenceS / (Fleet * ReportsPerCycle / (lowRate * (1 - UnroutableShare)))

  /** The offline threshold and the checker period, compressed alike. */
  def offlineMs(lowRate: Double): Long = math.round(RefOfflineS / compression(lowRate) * 1000)
  def scanMs(lowRate: Double): Long = math.round(RefScanS / compression(lowRate) * 1000)

  /** The node dimension as the reference's `node_dict` holds it once every
    * node has announced itself (AIRWISEv0.py:239-254). */
  def dimension: Seq[(Long, String, String)] =
    (0 until Fleet).map(i => (FirstNode + i, topicId(i), longname(i)))

  private def topicId(node: Int): String = "!" + java.lang.Long.toHexString(FirstNode + node)
  private def longname(node: Int): String =
    s"Farm${node % SiteNodes + 1}" + (if (node < SiteNodes) "" else s"-site${node / SiteNodes}")

  /** One packet. `dueNs` is relative to the start of its phase plan, except
    * in the burst phase, whose packets are all due when the burst starts. */
  final case class Msg(phase: Int, dueNs: Long, topic: String, payload: Array[Byte], route: Int)

  /** Synthetic: in each timed phase one seeded site goes silent from the
    * phase's start for up to `outageS` (at most 80% of the phase), then
    * rejoins with a nodeinfo announcement — the reference's own
    * fault-injection scenario (AIRWISEv0.py:345-349, FIXTURES.md A4) at
    * fleet scale, so OFFLINE and ONLINE events occur within a run. */
  final case class Plan(lowRate: Double, highRate: Double,
                        warmupS: Double, lowS: Double, highS: Double, burst: Int, outageS: Double)

  /** Fixed-point decimal rendering: identical bytes on every JVM. */
  private def dec(hundredths: Int): String = {
    val a = math.abs(hundredths)
    val c = a % 100
    val s = s"${a / 100}.${if (c < 10) "0" else ""}$c"
    if (hundredths < 0) "-" + s else s
  }

  private val Sensor = 0; private val Power = 1; private val Announce = 2

  private def packet(r: SplittableRandom, node: Int, kind: Int, deviceS: Long, k: Int): (String, Int) = {
    val from = FirstNode + node
    kind match {
      case Announce =>
        (s"""{"from":$from,"payload":{"id":"${topicId(node)}","longname":"${longname(node)}"},"timestamp":$deviceS,"type":"nodeinfo"}""", NodeInfo)
      case Power =>
        (s"""{"from":$from,"payload":{"battery_level":${dec(r.nextInt(10000))},"voltage":${dec(300 + r.nextInt(130))}},"timestamp":$deviceS,"type":"telemetry"}""", Battery)
      case Sensor if isV1(node) =>
        val vals = Seq.fill(9)(dec(r.nextInt(100000) - 1000)).mkString(",")
        (s"""{"from":$from,"payload":{"text":"$vals"},"timestamp":$deviceS,"type":"text"}""", V1Text)
      case Sensor =>
        (s"""{"from":$from,"payload":{"barometric_pressure":${dec(95000 + r.nextInt(10000))},"gas_resistance":${dec(r.nextInt(20000000))},"iaq":${r.nextInt(300)},"relative_humidity":${dec(r.nextInt(10000))},"temperature":${dec(r.nextInt(5000) - 1000)}},"timestamp":$deviceS,"type":"telemetry"}""", Environment)
      case _ =>
        if (r.nextBoolean()) (s"""{"from":$from,"payload":{},"timestamp":$deviceS,"type":"position"}""", Unroutable)
        else (s"not json $k", Unroutable)
    }
  }

  def schedule(seed: Long, plan: Plan): Array[Msg] = {
    val r = new SplittableRandom(seed)
    val out = Array.newBuilder[Msg]
    var k = 0
    // warm-up, then the high rate, then the low rate (StreamLoad.plan)
    val highStart = plan.warmupS
    val lowStart = plan.warmupS + plan.highS
    val end = lowStart + plan.lowS
    // one silent site per timed phase: (site, from s, until s)
    val outages = Seq((highStart, plan.highS), (lowStart, plan.lowS)).map { case (t0, len) =>
      (r.nextInt(Sites), t0, t0 + math.min(plan.outageS, 0.8 * len))
    }
    def silent(node: Int, t: Double) =
      outages.exists { case (site, a, b) => node / SiteNodes == site && t >= a && t < b }
    // a node announces itself when it joins and again when it rejoins
    val announced = new Array[Boolean](Fleet)
    // reports still due in the current cycle, as node * ReportsPerCycle + kind
    var cycle = Array.emptyIntArray
    var pos = 0
    def shuffled(): Array[Int] = {
      val a = Array.tabulate(Fleet * ReportsPerCycle)(identity)
      for (i <- a.length - 1 to 1 by -1) { val j = r.nextInt(i + 1); val x = a(i); a(i) = a(j); a(j) = x }
      a
    }
    def emit(phase: Int, dueNs: Long, t: Double): Unit = {
      val (node, kind) =
        if (r.nextDouble() < UnroutableShare) {
          var n = r.nextInt(Fleet)
          while (silent(n, t)) n = r.nextInt(Fleet)
          (n, -1)
        } else {
          var slot = -1
          while (slot < 0) {
            if (pos == cycle.length) { cycle = shuffled(); pos = 0 }
            val s = cycle(pos); pos += 1
            // a silent node misses its report
            if (!silent(s / ReportsPerCycle, t)) slot = s else announced(s / ReportsPerCycle) = false
          }
          val n = slot / ReportsPerCycle
          if (announced(n)) (n, slot % ReportsPerCycle) else { announced(n) = true; (n, Announce) }
        }
      val (json, route) = packet(r, node, kind, DeviceEpochS + (t * 1e9).toLong / 1000000000L, k)
      out += Msg(phase, dueNs, s"msh/2/json/LongFast/${topicId(node)}", json.getBytes(UTF_8), route)
      k += 1
    }
    // Poisson arrivals: exponential gaps at the phase's rate
    var t = 0.0
    for ((phase, rate, endS) <- Seq(
        (Warmup, plan.lowRate, highStart), (High, plan.highRate, lowStart), (Low, plan.lowRate, end))) {
      var done = false
      while (!done) {
        t += -math.log(1.0 - r.nextDouble()) / rate
        if (t >= endS) { t = endS; done = true }
        else emit(phase, (t * 1e9).toLong, t)
      }
    }
    (0 until plan.burst).foreach(_ => emit(Burst, 0L, t))
    out.result()
  }
}
