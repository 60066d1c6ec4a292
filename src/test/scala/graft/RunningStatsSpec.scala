package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.stream.Heartbeat.Packet
import graft.stream.RunningStats

/** The TTLConfig half of the Spark-4 state API: cumulative per-node
  * tallies across micro-batches, and native eviction of idle state.
  *
  * NOTE: transformWithState with TimeMode.ProcessingTime keeps scheduling
  * micro-batches (like fMGWS with timeouts armed), so
  * processAllAvailable() never idles — poll the memory sink with a
  * deadline instead, as HeartbeatSpec does. */
class RunningStatsSpec extends SparkSpec {
  import spark.implicits._

  private def withRocksDb[A](body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  private def pollUntil(deadlineMs: Long)(done: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + deadlineMs
    while (!done && System.currentTimeMillis() < deadline) Thread.sleep(250)
  }

  test("tallies accumulate across micro-batches per node") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[Packet]
      val q = RunningStats.totalsStream(input.toDS())
        .writeStream.format("memory").queryName("rs_acc").outputMode("append").start()
      try {
        def rows() = spark.sql("SELECT node, n, last_ts FROM rs_acc ORDER BY node, n")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
        input.addData(Packet(1L, 100L), Packet(1L, 200L), Packet(2L, 50L))
        pollUntil(60000)(rows().size >= 2)
        assert(rows() == Seq((1L, 2L, 200L), (2L, 1L, 50L)), rows().toString)
        input.addData(Packet(1L, 300L))
        pollUntil(60000)(rows().size >= 3)
        // batch 2 continues node 1's tally from state: (3, 300)
        assert(rows() == Seq((1L, 2L, 200L), (1L, 3L, 300L), (2L, 1L, 50L)), rows().toString)
      } finally q.stop()
    }
  }

  test("idle state is TTL-evicted natively: a late tally restarts") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[Packet]
      val q = RunningStats.totalsStream(input.toDS(), ttlMs = 1200L)
        .writeStream.format("memory").queryName("rs_ttl").outputMode("append").start()
      try {
        def ns() = spark.sql("SELECT n FROM rs_ttl ORDER BY last_ts")
          .collect().map(_.getLong(0)).toSeq
        input.addData(Packet(7L, 100L))
        pollUntil(60000)(ns().nonEmpty)
        assert(ns() == Seq(1L))
        // let the TTL lapse (processing-time clock), then tally again
        Thread.sleep(2500L)
        input.addData(Packet(7L, 900L))
        pollUntil(60000)(ns().size >= 2)
        // second row is a RESTARTED count (1), not 2: state was evicted
        assert(ns() == Seq(1L, 1L), s"expected TTL restart, got ${ns()}")
      } finally q.stop()
    }
  }
}
