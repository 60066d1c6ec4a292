package graft.stream

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}
import graft.stream.Heartbeat.Packet

/** Streaming trailing-window rate anomaly — the LIVE form of the batch
  * `window_rolling_zscore` query: per node, hourly packet counts are
  * z-scored against that node's own trailing window of closed hours, so a
  * chatty-node burst or a near-silent hour raises an alert with the
  * node's recent rhythm (not a global constant) as the baseline. This is
  * the detector the reference's fixed "no packets for 100 minutes"
  * threshold (`AIRWISEv0.py:20,73-103`) can't express: a node that
  * reports every 2 s going to once a minute is a 30× rate collapse the
  * offline timer never sees.
  *
  * Mechanics (Spark 4 `transformWithState` + native TTL, the
  * [[RunningStats]] half of the state API):
  *  - state is ONE small value per node: the trailing `window + 1`
  *    (bucket, count) pairs — O(keys × window), flat in event rate;
  *  - a bucket CLOSES when a later bucket first sees data (the batch
  *    analogue: `window_rolling_zscore`'s RANGE frame ends 1 PRECEDING so
  *    an hour can't damp its own baseline). Closed buckets are scored
  *    against the strictly-older trailing window and emitted exactly
  *    once;
  *  - the z statistic uses the same exact-integer algebra as the batch
  *    dual: z = (w·x − s1) / √(w·s2 − s1²) over integer counts — the
  *    numerator and radicand are exact, one IEEE sqrt + divide at the
  *    end, so the spec can assert bit-exact values;
  *  - under-seeded baselines (< `minBuckets` closed hours) and
  *    zero-variance baselines emit nothing (a z against σ = 0 is
  *    undefined, the batch dual's variance > 0 guard);
  *  - arrivals for a bucket at or below an already-closed bucket are
  *    DROPPED (the close is this operator's watermark: scoring is a
  *    one-shot decision, exactly like an emitted append-mode window);
  *  - nodes idle past the TTL are evicted by the store itself — fleet
  *    churn can't grow state, a returning node re-seeds.
  */
object Anomaly {

  case class BucketN(b: Long, n: Long)
  case class RateState(buckets: Seq[BucketN])

  /** One row per (node, closed bucket with a scorable baseline). */
  case class AnomalyRow(node: Long, bucket_start_ms: Long, n: Long,
                        baseline_w: Long, z: Double, anomalous: Boolean)

  class Processor(bucketMs: Long, window: Int, minBuckets: Int,
                  zThreshold: Double, ttlMs: Long)
    extends StatefulProcessor[Long, Packet, AnomalyRow] {

    @transient private var state: ValueState[RateState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[RateState]("rate",
        Encoders.product[RateState], TTLConfig(java.time.Duration.ofMillis(ttlMs)))

    override def handleInputRows(node: Long, rows: Iterator[Packet],
                                 timers: TimerValues): Iterator[AnomalyRow] = {
      val prev = if (state.exists()) state.get().buckets else Seq.empty[BucketN]
      val prevMax = if (prev.isEmpty) Long.MinValue else prev.map(_.b).max
      // merge this batch's per-bucket counts into the trailing state;
      // arrivals at or below an already-closed bucket are dropped (closed
      // buckets were scored and emitted — the one-shot contract)
      val incoming = rows.map(p => Math.floorDiv(p.ts_ms, bucketMs))
        .foldLeft(Map.empty[Long, Long]) { (m, b) => m.updated(b, m.getOrElse(b, 0L) + 1L) }
      val openFloor = prevMax // buckets < prevMax are closed; prevMax itself still open
      val admitted = incoming.filter { case (b, _) => b >= openFloor }
      val merged = admitted.foldLeft(prev.map(x => x.b -> x.n).toMap) {
        case (m, (b, n)) => m.updated(b, m.getOrElse(b, 0L) + n)
      }
      if (merged.isEmpty) return Iterator.empty
      val newMax = merged.keys.max
      // every bucket strictly below newMax and not yet closed, closes now
      val closing = merged.keys.filter(b => b >= prevMax && b < newMax).toSeq.sorted
      val out = closing.flatMap { c =>
        val base = merged.collect { case (b, n) if b < c => n }.toSeq
        val w = base.length.toLong
        if (w < minBuckets) None
        else {
          val x = merged(c)
          val s1 = base.sum
          val s2 = base.map(n => n * n).sum
          val radicand = w * s2 - s1 * s1
          if (radicand <= 0L) None
          else {
            val z = (w * x - s1).toDouble / math.sqrt(radicand.toDouble)
            Some(AnomalyRow(node, c * bucketMs, x, w, z, math.abs(z) > zThreshold))
          }
        }
      }
      // trim to the trailing window + the open bucket
      val trimmed = merged.toSeq.sortBy(_._1).takeRight(window + 1)
        .map { case (b, n) => BucketN(b, n) }
      state.update(RateState(trimmed))
      out.iterator
    }
  }

  /** Packets stream → per-node trailing-window anomaly rows. Requires the
    * RocksDB state store provider. */
  def rateAnomalyStream(packets: Dataset[Packet],
                        bucketMs: Long = 60L * 60 * 1000,
                        window: Int = 24,
                        minBuckets: Int = 3,
                        zThreshold: Double = 3.0,
                        ttlMs: Long = 7L * 24 * 60 * 60 * 1000): Dataset[AnomalyRow] = {
    val spark = packets.sparkSession
    import spark.implicits._
    packets.groupByKey(_.node)
      .transformWithState(new Processor(bucketMs, window, minBuckets, zThreshold, ttlMs),
        TimeMode.ProcessingTime(), OutputMode.Append())
  }
}
