package graft

import java.io.FileNotFoundException
import scala.util.Using
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.internal.SQLConf

/** Loaders for the driver-provided parquet fixture tables (TESTDATA.md).
  *
  * Every declared query takes `(spark, sfDir)` and loads only the tables it
  * needs — column pruning + predicate pushdown then reach the parquet scan
  * untouched (no caching layer in between, by design).
  *
  * A load reads its schema from one parquet footer on the driver, the footer
  * and conversion Spark's schema inference uses, so it starts no Spark job.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    load(spark, s"$dir/$name.parquet", spark.sessionState.conf)

  /** `path` read with the schema in the footer Spark's inference reads: the
    * file itself, or a directory's first data file by name (`_`- and
    * `.`-prefixed names such as `_SUCCESS` and `.crc` files are not data).
    * A schema Spark stored in the footer wins over converting the parquet
    * one with `conf`. Without such a file (a missing path, a directory with
    * no data file) `spark.read.parquet` raises Spark's own AnalysisException. */
  private def load(spark: SparkSession, path: String, conf: SQLConf): DataFrame = {
    val hadoopConf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(hadoopConf)
    val top = try Some(fs.getFileStatus(p)) catch { case _: FileNotFoundException => None }
    val file = top.flatMap { st =>
      if (st.isFile) Some(st)
      else fs.listStatus(p).filter { s =>
        val n = s.getPath.getName
        s.isFile && !n.startsWith("_") && !n.startsWith(".")
      }.minByOption(_.getPath.getName)
    }
    file match {
      case Some(s) =>
        val options = HadoopReadOptions.builder(hadoopConf, s.getPath)
          .withMetadataFilter(SKIP_ROW_GROUPS).build()
        val footer = Using.resource(
          ParquetFileReader.open(HadoopInputFile.fromStatus(s, hadoopConf), options))(_.getFooter)
        val schema = ParquetFileFormat.readSchemaFromFooter(
          new Footer(s.getPath, footer), new ParquetToSparkSchemaConverter(conf))
        spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }
  }

  /** events.parquet's `ts` encoding has drifted across fixture generations;
    * normalize every variant to a session-zone `TimestampType` so downstream
    * operators can rely on `unix_micros` / `date_trunc` uniformly:
    *
    *  - parquet TIMESTAMP(NANOS): Spark's schema conversion rejects it
    *    unless the legacy nanosAsLong conf is on, so this footer alone is
    *    converted with a copy of the session conf that has it on (a scan
    *    given a LongType column reads the raw nanos whatever the session
    *    says), then integer `div` to µs (data is µs-grained:
    *    nanos % 1000 == 0 — lossless, and matches DuckDB's µs view of the
    *    same file);
    *  - parquet timestamp[us] WITHOUT timezone: Spark 4 reads TIMESTAMP_NTZ,
    *    which `unix_micros` rejects; every entrypoint pins the session zone
    *    to UTC, so a plain cast to TimestampType reinterprets the naive
    *    micros as UTC — bit-identical to DuckDB's naive-microsecond view;
    *  - parquet timestamp[us] WITH timezone: already TimestampType, no-op. */
  private def eventsRaw(spark: SparkSession, dir: String): DataFrame = {
    val conf = spark.sessionState.conf.clone()
    conf.setConfString("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = load(spark, s"$dir/events.parquet", conf)
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        df.withColumn("ts", df.col("ts").cast(TimestampType))
      case _ => df
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = eventsRaw(s, d)
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
