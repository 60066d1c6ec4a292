package graft.stream

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Stateful monitoring (SURVEY.md §2.9 T3–T5): per-node heartbeat tracking,
  * offline detection against a processing-time threshold, and
  * edge-triggered alerting with dedup — the Spark form of the reference's
  * checker thread + shared dicts (AIRWISEv0.py:73-103, node_heartbeats
  * AIRWISEv0.py:27/258, alert latch AIRWISEv0.py:30/85-96).
  *
  * One streaming query with keyed state replaces the reference's second
  * thread and its list()-copy race workaround (AIRWISEv0.py:80): the
  * 600 s scan cadence becomes the trigger/timeout machinery, the latch
  * becomes state, and everything scales per-key across executors.
  */
object Heartbeat {

  /** A minimal packet view: who, when (processing-relevant fields only). */
  case class Packet(node: Long, ts_ms: Long)

  /** node -> (last seen, alert latch) — node_heartbeats + node_alerts_sent. */
  case class NodeState(lastSeenMs: Long, alertSent: Boolean)

  /** Emitted transitions only (edge-triggered, AIRWISEv0.py:85-96):
    * one OFFLINE per silent episode, one ONLINE on recovery. */
  case class NodeEvent(node: Long, event: String, at_ms: Long)

  val OfflineThresholdMs: Long = 100L * 60 * 1000 // AIRWISEv0.py:20

  /** State TTL: a node still silent this long AFTER its OFFLINE alert is
    * decommissioned — its keyed state is removed entirely, so fleet churn
    * (nodes replaced over months, AIRWISEv0.py:41-49 static seed vs runtime
    * upserts) can never accumulate unbounded state at 100× fleet size. A
    * retired node that later reappears is simply a brand-new node.
    *
    * The retire horizon SCALES with the caller's offline threshold
    * (ADVICE r3): `retireFor(offlineMs)` = 10× the offline threshold, so
    * `monitor(packets, offlineMs = small)` gets a proportionate retire
    * clock instead of the absolute default. Pass `retireMs` explicitly to
    * decouple them. */
  def retireFor(offlineMs: Long): Long = 10L * offlineMs

  val RetireAfterMs: Long = retireFor(OfflineThresholdMs)

  /** State-transition function, factored out so tests drive it directly
    * with TestGroupState (no clock-waiting). */
  def update(offlineMs: Long, retireMs: Long)(
      node: Long, packets: Iterator[Packet],
      state: GroupState[NodeState]): Iterator[NodeEvent] = {
    if (state.hasTimedOut) {
      val st = state.get
      if (st.alertSent) {
        // second timeout with the latch still set: silent for the whole
        // retire horizon past OFFLINE — drop the node's state (TTL)
        state.remove()
        Iterator(NodeEvent(node, "RETIRED", state.getCurrentProcessingTimeMs()))
      } else {
        // silent past threshold: alert once, latch, keep state for recovery
        // and arm the retire clock
        state.update(st.copy(alertSent = true))
        state.setTimeoutDuration(retireMs)
        Iterator(NodeEvent(node, "OFFLINE", state.getCurrentProcessingTimeMs()))
      }
    } else {
      val newest = packets.map(_.ts_ms).foldLeft(Long.MinValue)(math.max)
      val prev = state.getOption
      val recovered = prev.exists(_.alertSent) // back ONLINE (AIRWISEv0.py:259-262)
      val lastSeen = math.max(prev.map(_.lastSeenMs).getOrElse(Long.MinValue), newest)
      state.update(NodeState(lastSeen, alertSent = false))
      state.setTimeoutDuration(offlineMs)
      if (recovered) Iterator(NodeEvent(node, "ONLINE", newest)) else Iterator.empty
    }
  }

  /** T3–T5 wiring: packets stream -> transition events stream.
    * `retireMs = 0` (the default) derives the retire horizon as
    * [[retireFor]](offlineMs). */
  def monitor(packets: Dataset[Packet],
              offlineMs: Long = OfflineThresholdMs,
              retireMs: Long = 0L): Dataset[NodeEvent] = {
    val spark = packets.sparkSession
    import spark.implicits._
    val retire = if (retireMs > 0) retireMs else retireFor(offlineMs)
    packets
      .groupByKey(_.node)
      .flatMapGroupsWithState[NodeState, NodeEvent](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout)(update(offlineMs, retire))
  }
}
