package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.types.TimestampType

/** [[Tables]] loads take their schema from one parquet footer on the driver:
  * the schema must equal what `spark.read.parquet` infers, for single files
  * and Spark-written directories, and a load must start no Spark job. */
class TablesSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"
  private val names = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")
  private val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** Jobs this thread starts while `body` runs. They carry `body`'s job
    * group; a sentinel job after it flushes the listener bus, which delivers
    * events in order, so every earlier start has been counted once the
    * sentinel's start arrives. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val starts = new AtomicInteger
    val sentinel = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some("tables-spec-load") => starts.incrementAndGet()
          case Some("tables-spec-sentinel") => sentinel.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("tables-spec-load", "loads under test")
      val result = try body finally sc.clearJobGroup()
      sc.setJobGroup("tables-spec-sentinel", "listener-bus flush")
      try spark.range(1).count() finally sc.clearJobGroup()
      assert(sentinel.await(30, TimeUnit.SECONDS), "sentinel job start not delivered")
      (result, starts.get)
    } finally sc.removeSparkListener(listener)
  }

  private def tempDir(): String = Files.createTempDirectory("graft_tables").toString

  private def writeParquet(file: String, schema: String)(rows: Seq[Long]): Unit = {
    val msg = MessageTypeParser.parseMessageType(schema)
    val groups = new SimpleGroupFactory(msg)
    val w = ExampleParquetWriter.builder(new Path(file)).withType(msg)
      .withConf(new Configuration()).build()
    try rows.foreach(v => w.write(groups.newGroup().append("ts", v)))
    finally w.close()
  }

  test("the job counter sees schema inference's job") {
    val (_, jobs) = jobsDuring(spark.read.parquet(s"$sf/region.parquet"))
    assert(jobs >= 1)
  }

  test("all fixture tables load with the inferred schema and start no job") {
    for (name <- names) {
      val (df, jobs) = jobsDuring(Tables.table(spark, sf, name))
      assert(jobs == 0, name)
      assert(df.schema == spark.read.parquet(s"$sf/$name.parquet").schema, name)
    }
    val (_, eventJobs) = jobsDuring(Tables.events(spark, sf))
    assert(eventJobs == 0)
  }

  test("a multi-file directory written by Spark loads with the inferred schema") {
    val dir = tempDir()
    val path = s"$dir/multi.parquet"
    spark.range(0, 400, 1, 4).selectExpr("id", "CAST(id AS STRING) AS s",
      "timestamp_micros(id) AS t", "CAST(id / 7 AS DECIMAL(12, 4)) AS d",
      "array(id, id + 1) AS a").write.parquet(path)
    val listed = new java.io.File(path).list().toSeq
    assert(listed.count(_.startsWith("part-")) == 4 && listed.contains("_SUCCESS") &&
      listed.exists(n => n.startsWith(".") && n.endsWith(".crc")), listed)
    val (df, jobs) = jobsDuring(Tables.table(spark, dir, "multi"))
    assert(jobs == 0)
    assert(df.schema == spark.read.parquet(path).schema)
    assert(df.count() == 400L)
  }

  test("a directory's first data file by name decides the schema, as in inference") {
    val dir = tempDir()
    val path = s"$dir/mixed.parquet"
    Files.createDirectories(Paths.get(path))
    writeParquet(s"$path/b.parquet", "message m { required int64 ts; }")(Seq(1L))
    writeParquet(s"$path/c.parquet",
      "message m { required int64 ts; optional binary u (STRING); }")(Seq(2L))
    for (hidden <- Seq("_a.parquet", ".a.parquet"))
      writeParquet(s"$path/$hidden", "message m { required int32 ts; }")(Nil)
    val inferred = spark.read.parquet(path).schema
    assert(inferred.fieldNames.toSeq == Seq("ts"))
    assert(Tables.table(spark, dir, "mixed").schema == inferred)
  }

  test("events: every ts encoding loads as TimestampType with equal instants") {
    val micros = Seq(0L, 1700000000123456L, 1700000060000001L)
    val encodings = Seq(
      "TIMESTAMP(MICROS,true)" -> micros,
      "TIMESTAMP(MICROS,false)" -> micros,
      "TIMESTAMP(NANOS,true)" -> micros.map(_ * 1000L))
    val vectorized = "spark.sql.parquet.enableVectorizedReader"
    val before = Seq(nanosAsLong, vectorized).map(k => k -> spark.conf.getOption(k))
    spark.conf.unset(nanosAsLong)
    try {
      for ((annotation, values) <- encodings) {
        val dir = tempDir()
        writeParquet(s"$dir/events.parquet", s"message m { required int64 ts ($annotation); }")(values)
        for (reader <- Seq("true", "false")) {
          spark.conf.set(vectorized, reader)
          val what = s"$annotation, vectorized reader $reader"
          val (df, jobs) = jobsDuring(Tables.events(spark, dir))
          assert(jobs == 0, what)
          assert(df.schema("ts").dataType == TimestampType, what)
          assert(df.selectExpr("unix_micros(ts)").collect().map(_.getLong(0)).toSeq.sorted
            == micros, what)
        }
      }
      assert(spark.conf.get(nanosAsLong) == "false",
        "a load set nanosAsLong in the session; the NANOS scans above ran without it")
    } finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("a missing path or a directory without a data file raises AnalysisException") {
    val dir = tempDir()
    intercept[AnalysisException](Tables.table(spark, dir, "missing"))
    Files.createDirectories(Paths.get(s"$dir/empty.parquet"))
    Files.createFile(Paths.get(s"$dir/empty.parquet/_SUCCESS"))
    intercept[AnalysisException](Tables.table(spark, dir, "empty"))
  }
}
