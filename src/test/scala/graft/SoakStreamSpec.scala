package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import graft.stream.{Heartbeat, Ingest}
import graft.stream.Heartbeat.Packet

/** r5: throughput/state soak for the streaming path (r4 verdict item 6) —
  * the TTL and edge-trigger claims, MEASURED instead of asserted: 50
  * batches × 10⁵ JSON envelopes through the full
  * ingest-parse → route → heartbeat state machine with total fleet churn
  * (every batch is 2 000 brand-new nodes, 100 000 distinct keys overall).
  *
  * Proven at the end of the soak:
  *   - alerting is exactly edge-triggered: each churned node produces
  *     EXACTLY one OFFLINE and one RETIRED, never a duplicate, never an
  *     ONLINE (no node reappears);
  *   - state is bounded by TTL, not by history: after the feed stops the
  *     keyed state drains to ZERO rows — 100 000 keys leave nothing
  *     behind, so fleet churn can never accumulate state at any scale.
  */
class SoakStreamSpec extends SparkSpec {
  import spark.implicits._

  private val Batches = 50
  private val NodesPerBatch = 2000
  private val EventsPerNode = 50 // 2 000 × 50 = 1e5 rows per batch

  test("50 churning 1e5-event batches: edge-triggered alerts, state drains to zero") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    // the full ingest surface, then the packet view the monitor keys on
    val packets = Ingest.routePackets(Ingest.parseEnvelope(input.toDF()))
      .filter(col("route") === "environment")
      .select(col("from").as("node"), (col("timestamp") * 1000L).as("ts_ms"))
      .as[Packet]
    val events = Heartbeat.monitor(packets, offlineMs = 500L, retireMs = 1000L)
    val q = events.writeStream.format("memory").queryName("soak_hb")
      .outputMode("append").start()

    def counts(): Map[String, Long] =
      spark.sql("SELECT event, count(*) c FROM soak_hb GROUP BY event")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    val t0 = System.nanoTime()
    val hardCap = System.currentTimeMillis() + 1800000L
    try {
      var batch = 0
      while (batch < Batches) {
        val lo = batch.toLong * NodesPerBatch
        val rows = (0 until NodesPerBatch).flatMap { i =>
          val node = lo + i
          (0 until EventsPerNode).map { k =>
            s"""{"from":$node,"payload":{"temperature":2${k % 10}.5},"timestamp":${1760748340L + batch * 60 + k},"type":"telemetry"}"""
          }
        }
        // one batch in flight at a time: wait until the query has read
        // this one before generating the next, so the source never holds
        // the whole 5M-envelope feed at once. (processAllAvailable() never
        // returns here: the armed processing-time timeouts schedule a
        // batch on every trigger.)
        val end = input.addData(rows).json.toLong
        def read(): Boolean = Option(q.lastProgress)
          .flatMap(p => Option(p.sources.head.endOffset)).exists(_.toLong >= end)
        while (!read() && System.currentTimeMillis() < hardCap)
          assert(!q.awaitTermination(100), "query stopped mid-feed")
        batch += 1
      }
      val totalKeys = Batches.toLong * NodesPerBatch

      // r6 (verdict #5): a fixed wall-clock deadline made this load-flaky —
      // under full-suite contention the stream processes slower and the
      // 300 s budget expired with zero alerts despite healthy progress.
      // r7: the r6 rework watched only the TARGET value for movement, and
      // under heavy host contention the first alerts can take > stallMs
      // to appear while the ENGINE is healthily chewing the 5M-event
      // backlog — observed in-suite as a zero-alert "stall". Progress is
      // therefore ANY movement of the engine (batch id, rows ingested,
      // state rows), not just the awaited value; the stall timer fires
      // only when the stream itself is dead, plus a 30 min runaway cap.
      // r11: lastProgress is NULL until the FIRST micro-batch completes —
      // when the whole feed lands in one monster first batch (observed:
      // a 565 MB task binary chewing > 3 min under full-suite host load),
      // every lastProgress-derived signal is frozen and the stall timer
      // fired on a healthy engine. Completed TASKS move continuously
      // inside a long batch; count them as progress too.
      val tasksDone = new java.util.concurrent.atomic.AtomicLong(0L)
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          tasksDone.incrementAndGet(); ()
        }
      })
      val stallMs = 180000L
      def engineProgress(): Seq[Long] = tasksDone.get() +:
        Option(q.lastProgress).toSeq.flatMap(p =>
          Seq(p.batchId, p.numInputRows, p.stateOperators.map(_.numRowsTotal).sum))
      def awaitStable(observe: () => Long, done: Long => Boolean): Long = {
        var last = (observe(), engineProgress())
        var lastChange = System.currentTimeMillis()
        while (!done(last._1) && System.currentTimeMillis() < hardCap &&
          System.currentTimeMillis() - lastChange < stallMs) {
          Thread.sleep(500)
          val now = (observe(), engineProgress())
          if (now != last) { last = now; lastChange = System.currentTimeMillis() }
        }
        last._1
      }

      // every churned node must retire exactly once; nothing may recover
      awaitStable(() => counts().getOrElse("RETIRED", 0L), _ >= totalKeys)
      val c = counts()
      assert(c.getOrElse("RETIRED", 0L) == totalKeys,
        s"every node retires exactly once: $c")
      assert(c.getOrElse("OFFLINE", 0L) == totalKeys,
        s"exactly one OFFLINE per silent episode (edge-triggered): $c")
      assert(!c.contains("ONLINE"), s"no node reappeared, so no ONLINE: $c")

      // TTL: the keyed state drains to zero — churn leaves nothing behind
      def stateRows(): Long = Option(q.lastProgress)
        .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L)
      awaitStable(() => stateRows(), _ == 0L)
      assert(stateRows() == 0L,
        s"state must drain to zero after retirement, still ${stateRows()}")

      val secs = (System.nanoTime() - t0) / 1e9
      info(f"soak: ${Batches * NodesPerBatch * EventsPerNode} events, " +
        f"$totalKeys keys churned in $secs%.1f s " +
        f"(${Batches * NodesPerBatch * EventsPerNode / secs}%.0f events/s)")
    } finally q.stop()
  }
}
