package graft.stream

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}
import graft.stream.Heartbeat.Packet

/** Per-node running packet counters on Spark 4's `transformWithState` with
  * NATIVE state TTL — the streaming form of the reference's per-branch
  * message counters (the running tallies AIRWISEv0.py logs per packet at
  * :127/:187/:210), emitted as a continuously-updated (node, count,
  * last-seen) stream.
  *
  * These totals just need to not accumulate forever — exactly what
  * `TTLConfig` is for: state idle past the TTL is evicted by the store
  * itself, no timer bookkeeping, so fleet churn can't grow state
  * unboundedly and a long-idle node simply restarts its tally.
  */
object RunningStats {

  /** Keyed state: packets seen + newest device timestamp. */
  case class NodeTotals(n: Long, last_ts: Long)

  /** One output row per (node, micro-batch with data for it). */
  case class StatRow(node: Long, n: Long, last_ts: Long)

  class Processor(ttlMs: Long)
    extends StatefulProcessor[Long, Packet, StatRow] {

    @transient private var totals: ValueState[NodeTotals] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[NodeTotals]("totals",
        Encoders.product[NodeTotals], TTLConfig(java.time.Duration.ofMillis(ttlMs)))

    override def handleInputRows(node: Long, rows: Iterator[Packet],
                                 timers: TimerValues): Iterator[StatRow] = {
      var n = 0L
      var last = Long.MinValue
      rows.foreach { p => n += 1; last = math.max(last, p.ts_ms) }
      // an expired (TTL-evicted) key reads as absent: the tally restarts
      val prev = if (totals.exists()) totals.get() else NodeTotals(0L, Long.MinValue)
      val upd = NodeTotals(prev.n + n, math.max(prev.last_ts, last))
      totals.update(upd)
      Iterator(StatRow(node, upd.n, upd.last_ts))
    }
  }

  /** Packets stream → cumulative per-node stat rows. State idle past
    * `ttlMs` is evicted natively (no timers). Requires the RocksDB state
    * store provider. */
  def totalsStream(packets: Dataset[Packet],
                   ttlMs: Long = 60L * 60 * 1000): Dataset[StatRow] = {
    val spark = packets.sparkSession
    import spark.implicits._
    packets.groupByKey(_.node)
      .transformWithState(new Processor(ttlMs),
        TimeMode.ProcessingTime(), OutputMode.Append())
  }
}
