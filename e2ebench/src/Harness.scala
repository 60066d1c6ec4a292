package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What one run was asked to do. */
final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      data: String, out: String, queries: Seq[String],
                      expected: Map[String, String]) {
  val cores: Int = Runtime.getRuntime.availableProcessors()
}

/** A metric as the run reports it: value, unit and the sample count. */
final case class Metric(value: Double, unit: String, n: Int = 1)

/** What a workload hands back to [[Main]]. */
final case class Outcome(attempted: Int, failed: Int, checks: Seq[(String, Boolean, String)],
                         endToEnd: Map[String, Metric], detail: Map[String, Metric],
                         layers: Map[String, Metric], ranking: Seq[(String, Double)],
                         spans: Seq[Span], digests: Map[String, String] = Map.empty,
                         info: Seq[(String, Any)] = Nil) {
  def correct: Boolean = checks.forall(_._2)
}

object Harness {
  /** Set once the run's deadline passes: loops stop starting work and
    * count what is left as failed. */
  @volatile var expired = false

  def newSession(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .appName(s"e2ebench-${o.workload}")
      .master(s"local[${o.cores}]")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.out}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.out}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stopSession(spark: SparkSession): Unit = {
    graft.ext.Dedup.clearSharedCache(spark)
    spark.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
  }

  def pct(xs: Seq[Double], q: Double, unit: String): Metric = {
    val p = Stats.quantile(xs, q); Metric(p.value, unit, p.n)
  }

  def p50(xs: Seq[Double], unit: String): Metric = pct(xs, 0.5, unit)

  /** Mean, for figures Spark reports in whole milliseconds, where a median
    * would repeat the same integer run after run. */
  def mean(xs: Seq[Double], unit: String): Metric =
    Metric(if (xs.isEmpty) Double.NaN else xs.sum / xs.size, unit, xs.size)

  def message(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("").take(160)}"
}

/** Order-insensitive digest of a query result: row count and the sum of
  * per-row xxhash64 values, computed by Spark outside any timed region. */
object Digest {
  val RowsCol = "graftbench_digest_rows"

  private def agg(key: String, df: DataFrame): DataFrame = {
    val cols = df.columns.indices.map(i => s"c$i")
    df.toDF(cols: _*)
      .select(xxhash64(cols.map(col): _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)).as(RowsCol), coalesce(sum("h"), lit(0)).as("graftbench_digest_sum"))
      .select(lit(key).as("graftbench_digest_key"), col(RowsCol), col("graftbench_digest_sum"))
  }

  /** Digests of many results in one Spark action, so the per-action fixed
    * cost is paid once; if that fails, each result on its own, and a result
    * that cannot be digested is left out. */
  def ofAll(items: Seq[(String, DataFrame)]): Map[String, String] = {
    def read(rows: Seq[org.apache.spark.sql.Row]) =
      rows.map(r => r.getString(0) -> s"${r.getLong(1)}:${r.get(2)}").toMap
    if (items.isEmpty) Map.empty
    else try read(items.map { case (k, df) => agg(k, df) }.reduce(_ unionAll _).collect().toSeq)
    catch { case _: Throwable =>
      items.flatMap { case (k, df) => try read(agg(k, df).collect().toSeq) catch { case _: Throwable => Map.empty[String, String] } }.toMap
    }
  }
}
