package graft.stream

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** Streaming running-peak drawdown per node — the live form of the batch
  * [[graft.ops.Windows.windowDrawdown]] decay detector: "how far below
  * the best level this sensor has ever reported is it right now",
  * emitted per reading as readings arrive. Keyed state is ONE long (the
  * peak in integer cents), TTL-evicted when a node goes quiet — the
  * smallest possible stateful operator, and like [[DistinctStats]] the
  * semantics are deliberately batch-anchored: rows fold in (ts, cents)
  * order within each micro-batch, and a running max is prefix-monotone,
  * so the emitted rows are IDENTICAL to the batch window over the same
  * prefix regardless of how the stream was micro-batched
  * (`DrawdownStreamSpec` proves it against the batch operator). Values
  * arrive as integer cents (the batch operator's own unit) so there is
  * no floating point anywhere in the state or the outputs. */
object DrawdownStream {

  /** Stream input: node id, event-time millis, reading in integer cents. */
  case class ValuePoint(node: Long, ts_ms: Long, cents: Long)

  /** One output row per reading: the running peak and the drawdown. */
  case class DrawdownRow(node: Long, ts_ms: Long, cents: Long,
                         peak_cents: Long, drawdown_cents: Long)

  class Processor(ttlMs: Long)
    extends StatefulProcessor[Long, ValuePoint, DrawdownRow] {

    @transient private var peak: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      peak = getHandle.getValueState[Long]("peak",
        Encoders.scalaLong, TTLConfig(java.time.Duration.ofMillis(ttlMs)))

    override def handleInputRows(node: Long, rows: Iterator[ValuePoint],
                                 timers: TimerValues): Iterator[DrawdownRow] = {
      // micro-batch iterator order is not event order: fold in (ts, cents)
      // order so batching boundaries can never change the emitted rows
      val sorted = rows.toArray.sortBy(p => (p.ts_ms, p.cents))
      var p = if (peak.exists()) peak.get() else Long.MinValue
      val out = sorted.map { v =>
        if (v.cents > p) p = v.cents
        DrawdownRow(node, v.ts_ms, v.cents, p, p - v.cents)
      }
      peak.update(p)
      out.iterator
    }
  }

  /** (node, ts, cents) stream → per-reading running drawdown. Requires
    * the RocksDB state store provider. */
  def drawdownStream(points: Dataset[ValuePoint],
                     ttlMs: Long = 60L * 60 * 1000): Dataset[DrawdownRow] = {
    val spark = points.sparkSession
    import spark.implicits._
    points.groupByKey(_.node)
      .transformWithState(new Processor(ttlMs),
        TimeMode.ProcessingTime(), OutputMode.Append())
  }
}
