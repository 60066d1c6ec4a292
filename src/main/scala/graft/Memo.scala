package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.storage.StorageLevel

/** The one cache that spans queries: the expensive intermediate frames
  * (shingles, triangle degrees, rank cells, session-day frames, …) and the
  * bounded driver values (IVF centroids, pair-expansion bounds) that
  * several declared queries derive from the same source.
  *
  * Entries are keyed by (session, canonicalized analyzed plan of the
  * source, role). Canonicalized-plan equality is Catalyst's own sameResult
  * test, so two independently constructed scans of the same table share
  * one entry. [[frame]] persists what it builds (MEMORY_AND_DISK unless
  * told otherwise); [[value]] keeps a driver object, which must be bounded
  * driver metadata, never data-scaled rows.
  *
  * Each key is built exactly once, also under concurrent queries: the map
  * only inserts a per-key slot, and the build runs in that slot, outside
  * the map's lock. So a build may itself call [[frame]] or [[value]] for
  * another key, and a build that throws leaves no entry: the next call
  * builds again.
  *
  * Entries live until [[releaseAll]] or application end (one
  * ApplicationEnd listener per session releases that session's entries).
  *
  * STALENESS CONTRACT: entries are keyed by the source *plan*, not the
  * underlying bytes — if the files behind the same path are rewritten
  * within one session (re-ingest, corpus refresh), the memoized frames and
  * values keep serving the old snapshot. Any path that rewrites a source
  * in place must call [[releaseAll]] before re-running the queries that
  * read it (the parquet snapshot a long session holds is stale the same
  * way a `.cache()`d table would be).
  *
  * Every build, hit and release prints one stderr line,
  * `[graft.memo] <build|hit|release> role=<role> storage=<level|driver-value>`,
  * which the benchmark harness counts.
  */
object Memo {

  /** One key's entry. [[get]] runs the build under the slot's own monitor,
    * so callers of one key wait for a single build while other keys go on. */
  private final class Slot(val storage: String) {
    @volatile var value: AnyRef = null
    private var dead = false // the build threw; the slot is leaving the map

    /** `Some(v)` once built (by this call or an earlier one), `None` when
      * another caller's build threw in this slot. */
    def get(role: String, build: => AnyRef): Option[AnyRef] = synchronized {
      if (dead) None
      else if (value != null) { log("hit", role, storage); Some(value) }
      else {
        log("build", role, storage)
        try value = build catch { case t: Throwable => dead = true; throw t }
        Some(value)
      }
    }
  }

  private val entries =
    new ConcurrentHashMap[(SparkSession, LogicalPlan, String), Slot]

  /** Sessions that already carry the eviction listener. */
  private val hooked = ConcurrentHashMap.newKeySet[SparkSession]()

  /** The frame `build` returns, persisted at `level`, shared by every
    * caller with the same (session, source plan, role). */
  def frame(source: DataFrame, role: String,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK)(
      build: => DataFrame): DataFrame =
    lookup[DataFrame](source, role, levelName(level))(build.persist(level))

  /** The driver value `build` returns, shared like [[frame]]. */
  def value[T <: AnyRef](source: DataFrame, role: String)(build: => T): T =
    lookup[T](source, role, "driver-value")(build)

  /** Unpersist every frame and forget every value of `spark`; entries of
    * other sessions stay. The stale-corpus remedy (see the contract above). */
  def releaseAll(spark: SparkSession): Unit = {
    val it = entries.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._1 eq spark) {
        val slot = e.getValue
        log("release", e.getKey._3, slot.storage)
        slot.value match {
          case ds: Dataset[_] => ds.unpersist()
          case _ => ()
        }
        it.remove()
      }
    }
  }

  private def lookup[T <: AnyRef](source: DataFrame, role: String,
      storage: String)(build: => AnyRef): T = {
    val spark = source.sparkSession
    if (hooked.add(spark))
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
          try releaseAll(spark) catch { case _: Throwable => () }
          hooked.remove(spark); ()
        }
      })
    val key = (spark, source.queryExecution.analyzed.canonicalized, role)
    var out: Option[AnyRef] = None
    while (out.isEmpty) {
      val slot = entries.computeIfAbsent(key, _ => new Slot(storage))
      out = try slot.get(role, build)
        catch { case t: Throwable => entries.remove(key, slot); throw t }
      if (out.isEmpty) entries.remove(key, slot) // a failed build's slot
    }
    out.get.asInstanceOf[T]
  }

  private def levelName(level: StorageLevel): String = level match {
    case StorageLevel.MEMORY_AND_DISK => "MEMORY_AND_DISK"
    case StorageLevel.DISK_ONLY => "DISK_ONLY"
    case other => other.description
  }

  private def log(event: String, role: String, storage: String): Unit =
    System.err.println(s"[graft.memo] $event role=$role storage=$storage")
}
