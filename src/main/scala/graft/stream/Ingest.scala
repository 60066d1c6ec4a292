package graft.stream

import java.util.concurrent.{CompletionException, Executors}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.model.Schemas

/** Streaming ingest (SURVEY.md §2.9 T1/T2/T7): the Spark re-expression of
  * the reference's MQTT daemons (AIRWISEv0.py on_message chain,
  * AIRWISEv0.py:276-305; v1 text parser AIRWISEv1.py:130-140).
  *
  * Every transform is a pure `DataFrame => DataFrame` that works on both
  * batch and streaming frames (Spark's unified semantics) — batch tests and
  * the DuckDB-oracle checks exercise exactly the code the stream runs.
  * Transport is a pluggable source: MemoryStream in tests, file / socket /
  * the in-repo MQTT source in deployment; transport is never semantics
  * (SURVEY.md §7.3).
  */
object Ingest {

  /** Raw bytes -> typed envelope. PERMISSIVE from_json: malformed packets
    * become all-NULL rows and are droppable, never fatal (the reference's
    * catch-and-continue, AIRWISEv0.py:155-157). */
  def parseEnvelope(raw: DataFrame, jsonCol: String = "value"): DataFrame =
    raw.select(from_json(col(jsonCol), Schemas.envelope).as("m"))
      .select(col("m.*"))
      // a packet with no routable type is the parse-failure case
      .filter(col("type").isNotNull)

  /** Content-based routing tag (AIRWISEv0.py:112,126,243;
    * AIRWISEv0v1comb.py:387-404 runs all parsers — here one pass). */
  def routePackets(envelopes: DataFrame): DataFrame =
    envelopes.withColumn("route",
      when(col("type") === "telemetry" && col("payload.battery_level").isNotNull, "battery")
        .when(col("type") === "telemetry", "environment")
        .when(col("type") === "text" && col("payload.text").isNotNull, "v1_text")
        .when(col("type") === "nodeinfo", "nodeinfo")
        .otherwise("drop"))

  /** Arrival-time rendering (AIRWISEv0.py:135 pst_time). Deterministic in
    * tests via an injected clock column; live via current_timestamp(). */
  def pstTime(arrival: Column): Column =
    date_format(from_utc_timestamp(arrival, "America/Los_Angeles"), "yyyy-MM-dd HH:mm:ss zzz")

  /** v0 environment telemetry -> airwise_data shape (AIRWISEv0.py:142-153):
    * missing payload fields surface as NULL columns. */
  def parseEnvironment(routed: DataFrame, arrival: Column): DataFrame =
    routed.filter(col("route") === "environment").select(
      col("from").as("node"),
      col("payload.barometric_pressure").as("pressure"),
      col("payload.gas_resistance").as("gas"),
      col("payload.iaq").as("iaq"),
      col("payload.relative_humidity").as("humidity"),
      col("payload.temperature").as("temperature"),
      col("timestamp").as("timestamp_node"),
      pstTime(arrival).as("pst_time"))

  /** battery telemetry -> battery_data shape (AIRWISEv0.py:126-140; the
    * reference drops timestamp_node at insert, AIRWISEv0.py:172). */
  def parseBattery(routed: DataFrame, arrival: Column): DataFrame =
    routed.filter(col("route") === "battery").select(
      col("from").as("node"),
      col("payload.voltage").as("voltage"),
      col("payload.battery_level").as("battery_level"),
      pstTime(arrival).as("pst_time"))

  /** v1 CSV-in-text -> airwise_datav1 shape (AIRWISEv1.py:130-157):
    * 9 comma-separated floats; any non-float field or short row nulls the
    * whole parse and the row is dropped (ValueError/IndexError semantics). */
  def parseV1Text(routed: DataFrame, arrival: Column): DataFrame = {
    val parts = split(trim(col("payload.text")), ",")
    val metric = Seq("temperature", "humidity", "pressure", "gas",
      "pm1_0", "pm2_5", "pm10", "bus_voltage", "current_mA")
    val casted = metric.zipWithIndex.map { case (name, i) =>
      element_at(col("parts"), i + 1).cast("double").as(name)
    }
    routed.filter(col("route") === "v1_text")
      .withColumn("parts", parts)
      .filter(size(col("parts")) >= 9)
      .select(Seq(col("from").as("node"), col("timestamp").as("timestamp_node"),
        pstTime(arrival).as("pst_time")) ++ casted: _*)
      // ValueError semantics: one bad float drops the row
      .na.drop(metric)
  }

  /** nodeinfo packets -> dimension updates (AIRWISEv0.py:239-254). */
  def parseNodeinfo(routed: DataFrame): DataFrame =
    routed.filter(col("route") === "nodeinfo").select(
      col("from").as("node"),
      col("payload.id").as("topic_id"),
      col("payload.longname").as("longname"),
      col("timestamp").as("ts"))

  /** Left-outer broadcast enrichment — unknown nodes keep their rows with
    * NULL topic_id/longname (AIRWISEv0.py:122). */
  def enrich(fact: DataFrame, dim: DataFrame): DataFrame =
    fact.join(broadcast(dim.select(col("node"), col("topic_id"), col("longname"))),
      Seq("node"), "left_outer")

  /** Idempotent per-epoch parquet write: the epoch id is a partition
    * column and the write is a dynamic-partition overwrite, so a retried
    * epoch (foreachBatch is at-least-once) replaces exactly its own
    * `epoch=N` directories instead of appending duplicates — the sink
    * converges to one copy per epoch for deterministic batches. */
  private[graft] def writeEpochParquet(df: DataFrame, epochId: Long, path: String,
                                       parts: Seq[String]): Unit =
    df.withColumn("epoch", lit(epochId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(parts :+ "epoch": _*)
      .parquet(path)

  /** One micro-batch's routed sinks (the tables of insert_to_database,
    * AIRWISEv0.py:159-234): (table, rows, day-partitioned). Both sinks land
    * exactly these frames. */
  private def routes(b: DataFrame, dim: DataFrame): Seq[(String, DataFrame, Boolean)] = {
    val arrival = current_timestamp()
    Seq(
      ("airwise_data", enrich(parseEnvironment(b, arrival), dim), true),
      ("battery_data", enrich(parseBattery(b, arrival), dim), false),
      ("airwise_datav1", enrich(parseV1Text(b, arrival), dim), true))
  }

  /** One streaming pass over the routed packets; each micro-batch is
    * persisted once (every one of its [[routes]] reads it) and handed to
    * `land` with its epoch id. */
  private def startRouted(raw: DataFrame, checkpoint: String, trigger: Trigger)
                         (land: (DataFrame, Long) => Unit): StreamingQuery =
    routePackets(parseEnvelope(raw)).writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        val b = batch.persist()
        try land(b, epochId) finally { b.unpersist(); () }
      }
      .start()

  /** Runs every write at once, one pool thread each, and returns only when
    * all have finished; then the first failure (in `writes` order) is
    * rethrown with the others suppressed onto it, so a failed batch never
    * leaves a write running. Each thread carries the calling thread's
    * Spark local properties — for a micro-batch the streaming query's job
    * group, so `stop()` cancels in-flight writes, and its SQL execution
    * id — and its active session. */
  private def runConcurrently(spark: SparkSession, writes: Seq[() => Unit]): Unit = {
    val pool = Executors.newFixedThreadPool(writes.size)
    try {
      val pending = writes.map(w => SQLExecution.withThreadLocalCaptured(spark, pool)(w()))
      // join() waits through interrupts: stop() interrupts the batch
      // thread, which must still outlast the writes it started
      val failures = pending.flatMap { f =>
        try { f.join(); None } catch { case e: CompletionException => Some(e.getCause) }
      }
      failures.headOption.foreach { first =>
        failures.tail.foreach(first.addSuppressed)
        throw first
      }
    } finally pool.shutdown()
  }

  /** T1/T2 end-to-end: one streaming pass, three routed sinks via
    * foreachBatch (the Spark form of insert_to_database's routing,
    * AIRWISEv0.py:159-234). Writes are epoch-idempotent — see
    * [[writeEpochParquet]]. The three writes of a micro-batch run
    * concurrently ([[runConcurrently]]): each is a Spark job of nearly
    * fixed cost however few its rows, so serially a small batch pays
    * that cost three times over. */
  def runIngest(raw: DataFrame, dim: DataFrame, outDir: String,
                checkpoint: String,
                trigger: Trigger = Trigger.AvailableNow()
               ): StreamingQuery =
    startRouted(raw, checkpoint, trigger) { (b, epochId) =>
      runConcurrently(b.sparkSession.asInstanceOf[SparkSession], routes(b, dim).map {
        case (table, df, daily) => () =>
          // facts land day-partitioned on device time (Layout rationale:
          // time-range queries prune whole directories)
          if (daily)
            writeEpochParquet(df.withColumn("ds",
              date_format(timestamp_seconds(col("timestamp_node")), "yyyy-MM-dd")),
              epochId, s"$outDir/$table", Seq("ds"))
          else writeEpochParquet(df, epochId, s"$outDir/$table", Seq.empty)
      })
    }

  /** [[runIngest]] wired from env config (sink dir, checkpoint, trigger). */
  def runIngest(raw: DataFrame, dim: DataFrame, cfg: GraftConfig
               ): org.apache.spark.sql.streaming.StreamingQuery =
    runIngest(raw, dim, cfg.sinkDir, cfg.checkpointDir, cfg.trigger)

  /** S3 deployment transport: line-delimited JSON envelopes over TCP —
    * the deployment-shaped counterpart of the reference's broker
    * subscription entry point (AIRWISEv0.py:33-38,365-375). A broker
    * bridge (`mosquitto_sub ... | nc -lk PORT` or any TCP feeder) delivers
    * one envelope per line; the returned frame has the single STRING
    * `value` column [[parseEnvelope]] expects, so every downstream
    * transform is byte-identical to the file/MemoryStream path — transport
    * is the only thing that changes (SURVEY.md §7.3).
    *
    * Transport is deliberately pluggable: any source yielding one JSON
    * envelope per row in a STRING `value` column (socket here, MQTT via
    * [[graft.sources.MqttSourceProvider]], files/MemoryStream in tests)
    * feeds the identical downstream plan. No Kafka path is shipped or
    * claimed — the connector jar cannot exist on this zero-egress
    * classpath, so an untestable wiring stays out of the surface. */
  def socketSource(spark: org.apache.spark.sql.SparkSession,
                   host: String, port: Int): DataFrame =
    spark.readStream.format("socket")
      .option("host", host).option("port", port)
      .load()

  /** [[runIngest]] over a TCP line transport: the full deployment shape —
    * socket in, routed epoch-idempotent parquet out. */
  def runIngestSocket(spark: org.apache.spark.sql.SparkSession,
                      host: String, port: Int, dim: DataFrame,
                      outDir: String, checkpoint: String
                     ): org.apache.spark.sql.streaming.StreamingQuery =
    runIngest(socketSource(spark, host, port), dim, outDir, checkpoint,
      trigger = Trigger.ProcessingTime(0L))

  /** The reference's ACTUAL transport: a live MQTT subscription
    * (AIRWISEv0.py:365-375 `client.connect` + `loop_forever`), served by
    * the in-repo pure-Scala MQTT 3.1.1 source
    * ([[graft.sources.MqttSourceProvider]] — no broker-client jar exists
    * on a zero-egress classpath, and the QoS-0 subscriber protocol is
    * ~100 lines). Yields (topic, value, arrival); `value` is the JSON
    * envelope string [[parseEnvelope]] expects. */
  def mqttSource(spark: org.apache.spark.sql.SparkSession,
                 host: String, port: Int, topic: String): DataFrame =
    spark.readStream.format("graft-mqtt")
      .option("host", host).option("port", port.toString)
      .option("topic", topic)
      .load()

  /** [[runIngest]] over the MQTT transport — the end-to-end counterpart of
    * the reference's broker-to-Postgres daemon: subscribe, parse, route,
    * land epoch-idempotent parquet. */
  def runIngestMqtt(spark: org.apache.spark.sql.SparkSession,
                    host: String, port: Int, topic: String, dim: DataFrame,
                    outDir: String, checkpoint: String
                   ): org.apache.spark.sql.streaming.StreamingQuery =
    runIngest(mqttSource(spark, host, port, topic).select(col("value")),
      dim, outDir, checkpoint, trigger = Trigger.ProcessingTime(0L))

  /** PARTITIONED ingest (r10): a fleet of MQTT gateways as one source via
    * [[graft.sources.MqttFleetSourceProvider]] — vector (per-gateway)
    * offsets, one input partition per gateway, per-gateway `seq` for
    * dedup/gap accounting. Yields (gateway, seq, topic, value, arrival);
    * `value` is the JSON envelope [[parseEnvelope]] expects, so the
    * downstream plan is byte-identical to every other transport. */
  def mqttFleetSource(spark: org.apache.spark.sql.SparkSession,
                      gateways: String, topic: String): DataFrame =
    spark.readStream.format("graft-mqtt-fleet")
      .option("gateways", gateways)
      .option("topic", topic)
      .load()

  /** [[runIngest]] over the partitioned fleet transport — N gateways in,
    * the IDENTICAL routed epoch-idempotent parquet plan out. The 100 TB
    * ingest shape: partition-parallel parse on executors, per-gateway
    * ordering (the only order MQTT defines), sinks own exactly-once. */
  def runIngestMqttFleet(spark: org.apache.spark.sql.SparkSession,
                         gateways: String, topic: String, dim: DataFrame,
                         outDir: String, checkpoint: String
                        ): org.apache.spark.sql.streaming.StreamingQuery =
    runIngest(mqttFleetSource(spark, gateways, topic).select(col("value")),
      dim, outDir, checkpoint, trigger = Trigger.ProcessingTime(0L))

  /** S4 deployment parity: the same routed ingest, but landing in a
    * relational store over JDBC (the reference's Postgres INSERT path,
    * AIRWISEv0.py:159-234) — batched, one connection per partition, and
    * idempotent per epoch via [[graft.sources.Jdbc.writeEpoch]]'s
    * epoch scope-delete. */
  def runIngestJdbc(raw: DataFrame, dim: DataFrame, url: String,
                    checkpoint: String,
                    props: java.util.Properties = new java.util.Properties,
                    trigger: Trigger = Trigger.AvailableNow()
                   ): StreamingQuery =
    startRouted(raw, checkpoint, trigger) { (b, epochId) =>
      // one route after another: writeEpoch issues CREATE TABLE through
      // Spark's writer, and concurrent DDL on one catalog risks lock waits
      routes(b, dim).foreach { case (table, df, _) =>
        graft.sources.Jdbc.writeEpoch(df, url, table, epochId, props)
      }
    }
}
