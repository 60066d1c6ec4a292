package graft.stream

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}
import graft.functions.KmvBuffer

/** Streaming distinct-count estimates on the KMV (theta) sketch — the
  * continuously-updated "how many distinct nodes has this route seen"
  * counter the reference's monitoring loop approximates by keeping a dict
  * of every node it ever heard (AIRWISEv0.py:239-254, unbounded). The
  * keyed state here is ONE bounded sketch per key (k doubles, ~2 KB at
  * k=256) no matter how many billions of distinct ids flow past — the
  * streaming twin of the batch [[graft.functions.KmvDistinct]] aggregate,
  * REUSING its [[KmvBuffer]] and its serialized layout, so the estimate a
  * micro-batch emits is bit-identical to what the batch aggregate
  * computes over the same prefix of the stream (the spec's oracle:
  * insertion into a smallest-k set is order- and batching-independent by
  * construction).
  *
  * Like [[RunningStats]], TTL handles forgetting (an idle key's sketch is
  * evicted natively — fleet churn cannot accumulate state), and the input
  * hash column is produced UPSTREAM with the same md5 spelling as the
  * batch path ([[graft.ops.Aggs.kmvHash]]), so stream and batch share one
  * hash family by construction rather than by parallel reimplementation.
  */
object DistinctStats {

  /** Stream input: a grouping key and the [0,1) md5-derived hash of the
    * id being counted (compute with `Aggs.kmvHash` upstream). */
  case class KeyedHash(key: String, h: Double)

  /** One output row per (key, micro-batch with data for it) — the same
    * (m, theta, est) triple the batch `kmv_distinct` aggregate yields. */
  case class DistinctRow(key: String, m: Long, theta: Double, est_distinct: Double)

  /** [[KmvBuffer]] byte layout shared with `KmvDistinct.serialize`. */
  private[stream] def ser(b: KmvBuffer): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 8 * b.size)
    bb.putInt(b.size)
    var i = 0
    while (i < b.size) { bb.putDouble(b.hs(i)); i += 1 }
    bb.array()
  }

  private[stream] def deser(bytes: Array[Byte], k: Int): KmvBuffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new KmvBuffer(k)
    var i = 0
    while (i < n) { buf.insert(bb.getDouble); i += 1 }
    buf
  }

  class Processor(k: Int, ttlMs: Long)
    extends StatefulProcessor[String, KeyedHash, DistinctRow] {

    @transient private var sketch: ValueState[Array[Byte]] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sketch = getHandle.getValueState[Array[Byte]]("kmv",
        Encoders.BINARY, TTLConfig(java.time.Duration.ofMillis(ttlMs)))

    override def handleInputRows(key: String, rows: Iterator[KeyedHash],
                                 timers: TimerValues): Iterator[DistinctRow] = {
      val buf =
        if (sketch.exists()) deser(sketch.get(), k) else new KmvBuffer(k)
      rows.foreach(r => buf.insert(r.h))
      sketch.update(ser(buf))
      // same eval as the batch aggregate: exact below k, (k-1)/theta above
      val m = buf.size.toLong
      val theta = if (buf.size < k) 1.0 else buf.hs(k - 1)
      val est = if (buf.size < k) m.toDouble else (k - 1).toDouble / theta
      Iterator(DistinctRow(key, m, theta, est))
    }
  }

  /** (key, hash) stream → per-micro-batch distinct estimates. Requires
    * the RocksDB state store provider. */
  def distinctStream(rows: Dataset[KeyedHash], k: Int = 256,
                     ttlMs: Long = 60L * 60 * 1000): Dataset[DistinctRow] = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.groupByKey(_.key)
      .transformWithState(new Processor(k, ttlMs),
        TimeMode.ProcessingTime(), OutputMode.Append())
  }
}
