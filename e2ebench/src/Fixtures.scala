package graftbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The fixture tables the batch workloads read: `graft.GenData` at a small
  * scale, plus a few planted rows.
  *
  * At that scale the generated corpus has no near-duplicate documents and
  * no two-hop co-activity among users, so the dedup and link-prediction
  * queries would return no rows, their digests could not tell a correct
  * result from an emptied one, and their timings would skip the stage
  * that emits. The planted rows give each of them a small, known result:
  *
  *  - documents: copies of six documents with the last word dropped, and
  *    of two of them with the first word dropped as well — near-duplicate
  *    pairs (shingle Jaccard and containment close to 1) and two clusters
  *    of three;
  *  - events: four wedges of new users p–q–r, with p and q active in one
  *    minute and q and r in the next, so that (p, r) is a non-adjacent
  *    pair with one common neighbour. */
object Fixtures {
  val Seed = 42L

  def prepare(dir: String, sf: Double): Unit = {
    val spark = SparkSession.builder().master("local[*]")
      .config("spark.ui.enabled", "false").config("spark.sql.session.timeZone", "UTC").getOrCreate()
    graft.GenData.generate(spark, sf, Seed, dir)
    plant(spark, dir, "documents", nearDuplicates)
    plant(spark, dir, "events", wedges)
    spark.stop()
  }

  /** Appends `rows(table)` to a generated table, rewriting it in place. */
  private def plant(spark: SparkSession, dir: String, table: String, rows: DataFrame => DataFrame): Unit = {
    val path = s"$dir/$table.parquet"
    val tmp = s"$dir/$table.parquet.tmp"
    val df = spark.read.parquet(path)
    df.unionByName(rows(df)).write.mode("overwrite").parquet(tmp)
    deleteRecursively(new File(path))
    require(new File(tmp).renameTo(new File(path)), s"cannot move $tmp to $path")
  }

  private def nearDuplicates(docs: DataFrame): DataFrame = {
    val maxId = docs.agg(max("doc_id")).head().getLong(0)
    val words = split(col("text"), " ")
    val dropLast = docs.filter(col("doc_id") < 6)
      .withColumn("text", array_join(slice(words, lit(1), size(words) - 1), " "))
      .withColumn("doc_id", col("doc_id") + (maxId + 1))
    val dropBoth = docs.filter(col("doc_id") < 2)
      .withColumn("text", array_join(slice(words, lit(2), size(words) - 2), " "))
      .withColumn("doc_id", col("doc_id") + (maxId + 7))
    dropLast.unionByName(dropBoth)
      .withColumn("n_chars", length(col("text")).cast(docs.schema("n_chars").dataType))
      .select(docs.columns.map(col): _*)
  }

  private def wedges(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val maxId = events.agg(max("event_id")).head().getLong(0)
    val firstUser = events.agg(max("user_id")).head().getLong(0) + 1
    // (user offset, day, minute): p and q share minute 0, q and r minute 1
    val acts = for (w <- 0 until 4; (u, m) <- Seq(0 -> 0, 1 -> 0, 1 -> 1, 2 -> 1)) yield (3 * w + u, w + 2, m)
    acts.zipWithIndex.map { case ((u, day, minute), i) =>
      (maxId + 1 + i, f"2024-01-$day%02d 12:$minute%02d:30", firstUser + u)
    }.toDF("event_id", "ts_text", "user_id")
      .select(col("event_id"), to_timestamp_ntz(col("ts_text")).cast(events.schema("ts").dataType).as("ts"),
        col("user_id"), lit("click").as("event_type"), lit(1.0).as("value"), lit("{\"k\": 0}").as("props"))
      .select(events.schema.fields.map(f => col(f.name).cast(f.dataType)): _*)
  }

  private def deleteRecursively(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}
