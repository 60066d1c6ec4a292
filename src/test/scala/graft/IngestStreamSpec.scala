package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import graft.stream.Ingest
import graft.model.Schemas

/** T1/T2 end-to-end: MemoryStream of golden packets → runIngest →
  * three routed parquet sinks, enriched, with at-least-once semantics. */
class IngestStreamSpec extends SparkSpec {
  import spark.implicits._

  test("streaming ingest routes one pass into three sinks") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_ingest").toString
    val input = MemoryStream[String]
    val dim = Schemas.nodeDimSeed.toDF("node", "topic_id", "longname")

    // add BEFORE start: Trigger.AvailableNow snapshots available offsets at
    // query start, so data added after start() races the snapshot and can
    // be silently excluded on a slow host
    input.addData(
      """{"from":1127718912,"payload":{"barometric_pressure":1013.2,"gas_resistance":120000.5,"iaq":51,"relative_humidity":40.2,"temperature":21.5},"timestamp":1760748340,"type":"telemetry"}""",
      """{"from":1127718912,"payload":{"battery_level":92,"voltage":4.01},"timestamp":1760748350,"type":"telemetry"}""",
      """{"from":1127718913,"payload":{"text":"23.35,41.69,985.34,185623.00,1.00,1.00,1.00,4.98,148.62"},"timestamp":1760748360,"type":"text"}""",
      "garbage that is not json",
      """{"from":999,"payload":{"temperature":5.0},"timestamp":1760748370,"type":"telemetry"}""")
    val q = Ingest.runIngest(input.toDF().withColumnRenamed("value", "value"),
      dim, s"$dir/out", s"$dir/ckpt")
    q.processAllAvailable()
    q.stop()

    val env = spark.read.parquet(s"$dir/out/airwise_data")
    assert(env.count() == 2)
    // facts land day-partitioned on device time
    assert(env.columns.contains("ds"))
    assert(new java.io.File(s"$dir/out/airwise_data").listFiles()
      .exists(_.getName.startsWith("ds=")))
    // unknown node 999 kept with NULL enrichment
    assert(env.filter(col("node") === 999L).collect().head.getAs[String]("longname") == null)
    assert(env.filter(col("node") === 1127718912L).collect().head.getAs[String]("longname") == "Farm1")

    val bat = spark.read.parquet(s"$dir/out/battery_data")
    assert(bat.count() == 1)
    assert(bat.collect().head.getAs[Double]("battery_level") == 92.0)

    val v1 = spark.read.parquet(s"$dir/out/airwise_datav1")
    assert(v1.count() == 1)
    assert(v1.collect().head.getAs[Double]("pm2_5") == 1.0)
  }

  test("restart from checkpoint resumes without reprocessing committed epochs") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_restart").toString
    val input = MemoryStream[String]
    val dim = Schemas.nodeDimSeed.toDF("node", "topic_id", "longname")
    def env(node: Long, t: Long) =
      s"""{"from":$node,"payload":{"temperature":5.0},"timestamp":$t,"type":"telemetry"}"""
    // epoch 0: two environment packets
    input.addData(env(1127718912L, 1760748340L), env(1127718913L, 1760748341L))
    val q1 = Ingest.runIngest(input.toDF(), dim, s"$dir/out", s"$dir/ckpt")
    q1.processAllAvailable(); q1.stop()
    assert(spark.read.parquet(s"$dir/out/airwise_data").count() == 2)
    // restart with the SAME checkpoint: only the new data forms the next
    // epoch — the committed offsets are not replayed, so no duplicates
    input.addData(env(999L, 1760748350L))
    val q2 = Ingest.runIngest(input.toDF(), dim, s"$dir/out", s"$dir/ckpt")
    q2.processAllAvailable(); q2.stop()
    val all = spark.read.parquet(s"$dir/out/airwise_data")
    assert(all.count() == 3, "restart must append exactly the new packet")
    // the replayed-epoch guard and the restart guard compose: epochs distinct
    assert(all.select("epoch").distinct().count() == 2)
  }

  test("epoch parquet write is idempotent: a retried epoch leaves one copy") {
    val dir = Files.createTempDirectory("graft_epoch").toString
    val b0 = Seq((1L, "2024-01-01", 20.5), (2L, "2024-01-02", 21.5))
      .toDF("node", "ds", "temperature")
    Ingest.writeEpochParquet(b0, 0L, dir, Seq("ds"))
    // at-least-once retry of the same epoch: dynamic partition overwrite
    // replaces epoch=0 rather than appending a second copy
    Ingest.writeEpochParquet(b0, 0L, dir, Seq("ds"))
    val b1 = Seq((3L, "2024-01-02", 22.5)).toDF("node", "ds", "temperature")
    Ingest.writeEpochParquet(b1, 1L, dir, Seq("ds"))
    val back = spark.read.parquet(dir)
    assert(back.count() == 3)
    assert(back.filter(col("epoch") === 0L).count() == 2)
    assert(back.filter(col("epoch") === 1L).count() == 1)
  }

  /** n packets of each landed route: environment, battery, v1 text. */
  private def mixedPackets(n: Int, t0: Long): Seq[String] = (0 until n).flatMap { i =>
    val t = t0 + i
    Seq(
      s"""{"from":1127718912,"payload":{"temperature":${i % 40}.5,"iaq":51},"timestamp":$t,"type":"telemetry"}""",
      s"""{"from":1127718913,"payload":{"battery_level":${i % 100},"voltage":4.01},"timestamp":$t,"type":"telemetry"}""",
      s"""{"from":1127718914,"payload":{"text":"23.35,41.69,985.34,$i.00,1.00,1.00,1.00,4.98,148.62"},"timestamp":$t,"type":"text"}""")
  }

  test("a failed route write fails the batch only after the other writes land") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_route_fail").toString
    val input = MemoryStream[String]
    val dim = Schemas.nodeDimSeed.toDF("node", "topic_id", "longname")
    input.addData(mixedPackets(2000, 1760748340L))
    // a regular file where the first route's directory belongs: that write
    // fails at job setup, long before the other two can have committed
    new java.io.File(s"$dir/out").mkdirs()
    val blocker = new java.io.File(s"$dir/out/airwise_data")
    assert(blocker.createNewFile())
    val q = Ingest.runIngest(input.toDF(), dim, s"$dir/out", s"$dir/ckpt")
    val e = intercept[StreamingQueryException](q.awaitTermination())
    // taken the moment the failure surfaces: both other routes committed
    def landed(route: String): Boolean = {
      val f = new java.io.File(s"$dir/out/$route")
      f.isDirectory && Files.walk(f.toPath).iterator().asScala
        .exists(_.getFileName.toString.endsWith(".parquet"))
    }
    val (batLanded, v1Landed) = (landed("battery_data"), landed("airwise_datav1"))
    assert(batLanded && v1Landed,
      s"the batch failed before the other writes finished (battery=$batLanded, v1=$v1Landed)")
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains(blocker.getPath)),
      s"the failure is not the blocked route's: $e")
    assert(spark.read.parquet(s"$dir/out/battery_data").count() == 2000)
    assert(spark.read.parquet(s"$dir/out/airwise_datav1").count() == 2000)
  }

  test("route writes run in the query's job group; stop() leaves no job running") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_route_cancel").toString
    val input = MemoryStream[String]
    val dim = Schemas.nodeDimSeed.toDF("node", "topic_id", "longname")
    val groups = new ConcurrentLinkedQueue[Option[String]]
    val ended = new java.util.concurrent.atomic.AtomicInteger
    // the listener bus may still deliver earlier tests' jobs: count only
    // the jobs that started after this query did
    val t0 = System.currentTimeMillis()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.time >= t0)
          groups.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.time >= t0) { ended.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val q = Ingest.runIngest(input.toDF(), dim, s"$dir/out", s"$dir/ckpt",
        trigger = Trigger.ProcessingTime(0L))
      // keep batches coming, so stop() lands while route writes run
      var t = 1760748340L
      while (q.isActive && q.recentProgress.count(_.numInputRows > 0) < 3) {
        input.addData(mixedPackets(200, t)); t += 200
        Thread.sleep(100)
      }
      input.addData(mixedPackets(200, t))
      q.stop()
      assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
      // the listener bus is asynchronous: wait until every start has its end
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (ended.get() < groups.size && System.nanoTime() < deadline) Thread.sleep(50)
      val seen = groups.asScala.toSeq
      assert(seen.nonEmpty)
      assert(seen.forall(_.contains(q.runId.toString)),
        s"jobs outside the query's group: ${seen.filterNot(_.contains(q.runId.toString))}")
      assert(spark.read.parquet(s"$dir/out/battery_data").count() >= 600)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
