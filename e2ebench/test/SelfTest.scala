package graftbench

/** The benchmark's own tests, run by `python3 e2ebench/run.py --self-test`:
  * generator determinism, latency attribution and the percentile helper.
  * Exits non-zero on the first failed check. */
object SelfTest {
  private var failures = 0

  private def check(name: String, ok: Boolean, note: => String = ""): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $name${if (ok) "" else s": $note"}")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    generatorIsDeterministic()
    attributionMapsMessagesToBatches()
    percentilesReportTheirSampleCount()
    if (failures > 0) { println(s"$failures failed"); sys.exit(1) }
    println("all passed")
  }

  private def generatorIsDeterministic(): Unit = {
    val plan = Gen.Plan(lowRate = 500, highRate = 2000, warmupS = 2, lowS = 4, highS = 1, burst = 300, outageS = 3)
    val a = Gen.schedule(7L, plan)
    val b = Gen.schedule(7L, plan)
    val c = Gen.schedule(8L, plan)
    def bytes(ms: Array[Gen.Msg]) = ms.toSeq.map(m => (m.phase, m.dueNs, m.topic, m.payload.toSeq, m.route))
    check("same seed gives a byte-identical packet sequence and schedule", bytes(a) == bytes(b))
    check("another seed gives another sequence", bytes(a) != bytes(c))
    check("due times never decrease within the timed phases",
      a.filter(_.phase != Gen.Burst).map(_.dueNs).sliding(2).forall(w => w.length < 2 || w(0) <= w(1)))
    check("every phase is present", a.map(_.phase).distinct.sorted.toSeq == Seq(0, 1, 2, 3))
    check("the burst has its configured size", a.count(_.phase == Gen.Burst) == 300)
    check("every route occurs", a.map(_.route).distinct.sorted.toSeq == Seq(0, 1, 2, 3, 4))
    val high = a.count(_.phase == Gen.High)
    check("the high phase runs near its rate", high > 1500 && high < 2500, s"high=$high")
    val nodes = a.filter(_.route != Gen.Unroutable).map(_.topic).distinct.length
    check("every node of the fleet reports", nodes == Gen.Fleet, s"nodes=$nodes")
    val rejoins = a.count(m => m.route == Gen.NodeInfo && m.phase != Gen.Warmup)
    check("the sites of the two outages rejoin with a nodeinfo each", rejoins == 2 * Gen.SiteNodes, s"rejoins=$rejoins")
  }

  private def attributionMapsMessagesToBatches(): Unit = {
    import Attribution.Batch
    // batches cover offsets [0,3), [3,3) (empty), [3,5); the third is
    // reported first to show order does not matter
    val batches = Seq(
      Batch(2, 3, 5, startMs = 2000, triggerMs = 500),
      Batch(0, 0, 3, startMs = 1000, triggerMs = 200),
      Batch(1, 3, 3, startMs = 1500, triggerMs = 100))
    val due = Array(900.0, 950.0, 1000.0, 1100.0, 1900.0, 2600.0)
    val lat = Attribution.latencies(due, batches)
    val want = Seq(300.0, 250.0, 200.0, 1400.0, 600.0)
    check("messages map to the first batch whose endOffset exceeds them",
      lat.take(5).toSeq == want, lat.mkString(","))
    check("a message no batch covers has no latency", lat(5).isNaN)
    check("no batches: every latency is missing",
      Attribution.latencies(Array(1.0, 2.0), Nil).forall(_.isNaN))
  }

  private def percentilesReportTheirSampleCount(): Unit = {
    val xs = Seq(5.0, 1.0, 3.0, 2.0, 4.0, Double.NaN)
    val p = Stats.median(xs)
    check("median of 1..5 is 3 over 5 finite samples", p == Stats.Pct(3.0, 5), p.toString)
    check("p99 interpolates between the top two", math.abs(Stats.quantile(xs, 0.99).value - 4.96) < 1e-9)
    check("an empty sample reports n = 0", Stats.quantile(Nil, 0.5).n == 0 && Stats.quantile(Nil, 0.5).value.isNaN)
    check("q = 1 is the largest finite sample", Stats.quantile(xs, 1.0) == Stats.Pct(5.0, 5))
  }
}
