package graftbench

/** Publish-to-commit latency attribution for the ingest query.
  *
  * The MQTT source numbers messages by arrival order from 0, and a
  * micro-batch covers the offsets [startOffset, endOffset). Message k is
  * therefore committed by the first batch whose endOffset exceeds k, and
  * that batch commits at its progress timestamp plus its
  * triggerExecution duration. A message's latency runs from the time it
  * was due to be published, so a generator that falls behind, or a stall
  * that delays later messages, is charged to the messages it delays. */
object Attribution {

  /** One finished micro-batch, as its progress record reports it. */
  final case class Batch(batchId: Long, startOffset: Long, endOffset: Long,
                         startMs: Long, triggerMs: Long) {
    def commitMs: Long = startMs + triggerMs
  }

  /** The batch that committed each of the first `n` messages; None for a
    * message no batch has committed. */
  def committing(n: Int, batches: Seq[Batch]): Array[Option[Batch]] = {
    val byEnd = batches.sortBy(b => (b.endOffset, b.batchId)).toArray
    val ends = byEnd.map(_.endOffset)
    Array.tabulate(n) { k =>
      val j = firstAtLeast(ends, k.toLong + 1)
      if (j >= byEnd.length) None else Some(byEnd(j))
    }
  }

  /** Latency in ms of each message, given its due time in epoch ms; NaN
    * for a message no batch has committed. */
  def latencies(dueMs: Array[Double], batches: Seq[Batch]): Array[Double] =
    committing(dueMs.length, batches).zip(dueMs).map {
      case (b, due) => b.fold(Double.NaN)(_.commitMs - due)
    }

  /** Index of the first element of the sorted `xs` that is >= `v`. */
  private def firstAtLeast(xs: Array[Long], v: Long): Int = {
    var lo = 0; var hi = xs.length
    while (lo < hi) { val mid = (lo + hi) >>> 1; if (xs(mid) < v) lo = mid + 1 else hi = mid }
    lo
  }
}
