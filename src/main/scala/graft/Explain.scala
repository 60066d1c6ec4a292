package graft

import org.apache.spark.sql.SparkSession

/** Plan inspector: prints the formatted physical plan for selected declared
  * queries (all of them with no args). Used to audit that filters/projections
  * reach the parquet scan (PushedFilters/ReadSchema), dimension joins
  * broadcast, and hot paths stay inside WholeStageCodegen. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      // cold plan per query (the PlanShapeSpec convention): a memo frame
      // built by an earlier query in this loop would surface in later
      // plans as InMemoryTableScan and hide the query's own shape
      Memo.releaseAll(spark)
      spark.catalog.clearCache()
      println(s"\n===== $n =====")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
