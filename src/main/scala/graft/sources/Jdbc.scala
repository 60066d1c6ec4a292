package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Relational sink plumbing (SURVEY.md §2.1 S4 deployment form) — the Spark
  * counterpart of the reference's per-row psycopg2 INSERT loop
  * (AIRWISEv0.py:159-234), but batched (one prepared statement per
  * `batchsize` rows), parallel (one connection per partition) and
  * idempotent per epoch instead of one connection per message.
  */
object Jdbc {

  /** Conservative identifier shape — table names are code-owned, never
    * data-derived, so anything outside this alphabet is a bug (and would
    * otherwise be interpolated into DDL/DML unescaped). */
  private val Ident = "^[A-Za-z_][A-Za-z0-9_]*$".r

  /** Idempotent epoch write via a staged atomic swap. foreachBatch is
    * at-least-once, so the write must converge to exactly one copy per
    * epoch AND never pass through a state where a committed epoch's rows
    * are missing from the visible table:
    *
    *  1. the batch (tagged with its epoch) is loaded into `<table>_stage`
    *     in parallel, one connection and ONE transaction per partition;
    *     each partition's transaction first scope-deletes its own
    *     (epoch, part) slice, so a TASK retried after a committed-but-
    *     unacknowledged attempt (lost ack) replaces its rows instead of
    *     duplicating them (ADVICE r3 — the r3 form appended per
    *     partition, so a post-commit task retry left two copies of that
    *     partition in the stage and the swap published both). Whole-batch
    *     retries are additionally covered by an epoch-wide stage clear up
    *     front (which also handles a retry arriving with a different
    *     partitioning);
    *  2. ONE connection then runs delete-old + insert-from-stage + clear-
    *     stage as a SINGLE transaction — a crash anywhere rolls back and
    *     leaves the visible table exactly as it was (the r2 form deleted
    *     on one connection and appended on another, so a failure between
    *     them lost the epoch until a retry happened).
    *
    * Both tables are created by Spark's JDBC writer from the same schema,
    * so column DDL order matches; DML always names columns explicitly
    * (Spark quotes identifiers at CREATE, so the quoted spellings match
    * exactly). The stage carries one extra `part` column that never
    * reaches the visible table. */
  def writeEpoch(df: DataFrame, url: String, table: String, epochId: Long,
                 props: java.util.Properties = new java.util.Properties,
                 batchSize: Int = 1000): Unit = {
    require(Ident.matches(table), s"illegal table identifier: $table")
    val stage = s"${table}_stage"
    val tagged = df.withColumn("epoch", lit(epochId))
    // ensure the visible table exists with the batch's schema (no rows)
    tagged.limit(0).write.mode("append").jdbc(url, table, props)
    // ensure the stage exists (schema + the partition-scope column)
    tagged.withColumn("part", lit(0)).limit(0).write.mode("append").jdbc(url, stage, props)
    // clear this epoch's stage stragglers from a previously failed attempt
    withConn(url, props) { conn =>
      val st = conn.prepareStatement(s"""DELETE FROM $stage WHERE "epoch" = ?""")
      try { st.setLong(1, epochId); st.executeUpdate(); () } finally st.close()
    }
    // parallel load into the stage: per-partition transaction =
    // (delete own (epoch, part) slice, batched inserts, commit)
    val stageCols = tagged.schema.fieldNames :+ "part"
    val insertSql =
      s"""INSERT INTO $stage (${stageCols.map(c => s""""$c"""").mkString(", ")})
         | VALUES (${stageCols.map(_ => "?").mkString(", ")})""".stripMargin
    val nData = tagged.schema.fieldNames.length
    tagged.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
      val pid = org.apache.spark.TaskContext.get().partitionId()
      val conn = java.sql.DriverManager.getConnection(url, props)
      try {
        conn.setAutoCommit(false)
        val del = conn.prepareStatement(
          s"""DELETE FROM $stage WHERE "epoch" = ? AND "part" = ?""")
        try { del.setLong(1, epochId); del.setInt(2, pid); del.executeUpdate(); () }
        finally del.close()
        val st = conn.prepareStatement(insertSql)
        try {
          var pending = 0
          while (it.hasNext) {
            val r = it.next()
            var i = 0
            while (i < nData) { st.setObject(i + 1, r.get(i)); i += 1 }
            st.setInt(nData + 1, pid)
            st.addBatch()
            pending += 1
            if (pending >= batchSize) { st.executeBatch(); pending = 0 }
          }
          if (pending > 0) st.executeBatch()
          ()
        } finally st.close()
        conn.commit()
      } catch {
        case t: Throwable =>
          try conn.rollback() catch { case _: Throwable => () }
          throw t
      } finally conn.close()
    }
    // atomic swap: old epoch out, staged epoch in, stage cleared — one txn
    val cols = tagged.schema.fieldNames.map(c => s""""$c"""").mkString(", ")
    withConn(url, props) { conn =>
      conn.setAutoCommit(false)
      try {
        execUpdate(conn, s"""DELETE FROM $table WHERE "epoch" = ?""", epochId)
        execUpdate(conn,
          s"""INSERT INTO $table ($cols) SELECT $cols FROM $stage WHERE "epoch" = ?""",
          epochId)
        execUpdate(conn, s"""DELETE FROM $stage WHERE "epoch" = ?""", epochId)
        conn.commit()
      } catch {
        case t: Throwable =>
          try conn.rollback() catch { case _: Throwable => () }
          throw t
      }
    }
  }

  private def withConn[A](url: String, props: java.util.Properties)
                         (f: java.sql.Connection => A): A = {
    val conn = java.sql.DriverManager.getConnection(url, props)
    try f(conn) finally conn.close()
  }

  private def execUpdate(conn: java.sql.Connection, sql: String, epochId: Long): Unit = {
    val st = conn.prepareStatement(sql)
    try { st.setLong(1, epochId); st.executeUpdate(); () } finally st.close()
  }
}
