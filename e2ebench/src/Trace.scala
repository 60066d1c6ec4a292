package graftbench

import java.io.{OutputStream, PrintStream}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock with sub-millisecond resolution, in epoch milliseconds, so
  * harness spans line up with the epoch-ms times Spark's listeners report. */
object Clock {
  private val baseWall = System.currentTimeMillis().toDouble
  private val baseNano = System.nanoTime()
  def ms: Double = baseWall + (System.nanoTime() - baseNano) / 1e6
}

/** A timed interval at a layer boundary. `parent` is the span that caused
  * it (-1 for none). */
final case class Span(id: Int, parent: Int, layer: String, name: String,
                      startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** Counts the program's `[graft.memo]` stderr lines while passing every
  * byte through to `sink`. */
final class MemoTee(sink: OutputStream) extends OutputStream {
  val builds = new AtomicLong; val hits = new AtomicLong
  private val line = new java.io.ByteArrayOutputStream
  override def write(b: Int): Unit = synchronized {
    sink.write(b)
    if (b == '\n') { count(line.toString("UTF-8")); line.reset() } else line.write(b)
  }
  private def count(s: String): Unit =
    if (s.startsWith("[graft.memo] ")) s.drop(13).takeWhile(_ != ' ') match {
      case "build" => builds.incrementAndGet()
      case "hit" => hits.incrementAndGet()
      case _ => ()
    }
  override def flush(): Unit = sink.flush()
}

object MemoTee {
  /** Route the JVM's stderr through a tee that writes to `log`. */
  def install(log: OutputStream): MemoTee = {
    val tee = new MemoTee(log)
    System.setErr(new PrintStream(tee, true, "UTF-8"))
    tee
  }
}

/** Per-job accounting filled from listener events. */
final class JobRec(val jobId: Int, val span: Int, val stageNames: Seq[String], val startMs: Double) {
  @volatile var endMs: Double = Double.NaN
  val tasks = new AtomicLong; val runMs = new AtomicLong; val cpuNs = new AtomicLong
  val shuffleRead = new AtomicLong; val shuffleWrite = new AtomicLong; val spill = new AtomicLong
  /** Jobs launched from the fixture loaders (schema inference). */
  def isTableLoad: Boolean = stageNames.exists(_.contains("Tables.scala"))
}

/** One query execution's Catalyst phases, epoch ms. */
final case class PlanRec(phases: Map[String, (Double, Double)])

/** Spans plus the listeners that observe Spark from outside the program.
  * With `enabled = false` only the spans the workload needs for its own
  * end-to-end figures are kept and no listener is registered. */
final class Trace(val enabled: Boolean) {
  private val nextId = new AtomicInteger(0)
  private val spans = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  val jobs = new ConcurrentHashMap[Int, JobRec]
  private val stageJob = new ConcurrentHashMap[Int, Int]
  val plans = new java.util.concurrent.ConcurrentLinkedQueue[PlanRec]
  @volatile private var sc: SparkContext = _

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)

  def add(s: Span): Unit = spans.synchronized(spans += s)

  def newId(): Int = nextId.incrementAndGet()

  /** Time `f` as one span of `layer`; jobs it launches carry the span id. */
  def span[A](layer: String, name: String)(f: => A): A = timed(layer, name)(f)._1

  /** [[span]], also returning the recorded span. */
  def timed[A](layer: String, name: String)(f: => A): (A, Span) = {
    val id = newId()
    val parent = stack.get.headOption.getOrElse(-1)
    stack.set(id :: stack.get)
    val prop = if (sc != null) sc.getLocalProperty(Trace.SpanProp) else null
    if (sc != null) sc.setLocalProperty(Trace.SpanProp, id.toString)
    val t0 = Clock.ms
    try {
      val a = f
      val s = Span(id, parent, layer, name, t0, Clock.ms)
      add(s)
      (a, s)
    } finally {
      stack.set(stack.get.tail)
      if (sc != null) sc.setLocalProperty(Trace.SpanProp, prop)
    }
  }

  /** Register the query-execution listener on a session, and the job
    * listener on its SparkContext if that is new. */
  def attach(spark: org.apache.spark.sql.SparkSession): Unit = if (enabled) {
    if (sc ne spark.sparkContext) {
      sc = spark.sparkContext
      addJobListener()
    }
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (!qe.analyzed.output.exists(_.name == Digest.RowsCol))
          plans.add(PlanRec(qe.tracker.phases.map { case (k, p) =>
            k -> (p.startTimeMs.toDouble, p.endTimeMs.toDouble) }))
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
  }

  private def addJobListener(): Unit =
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val span = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanProp)))
          .map(_.toInt).getOrElse(-1)
        jobs.put(e.jobId, new JobRec(e.jobId, span, e.stageInfos.map(_.name), e.time.toDouble))
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(_.endMs = e.time.toDouble)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        val j = if (m == null) None else Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id)))
        j.foreach { r =>
          r.tasks.incrementAndGet()
          r.runMs.addAndGet(m.executorRunTime)
          r.cpuNs.addAndGet(m.executorCpuTime)
          r.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          r.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          r.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
    })

  /** Jobs that started inside [fromMs, toMs]. */
  def jobsBetween(fromMs: Double, toMs: Double): Seq[JobRec] =
    jobs.values.asScala.filter(j => j.startMs >= fromMs - 1 && j.startMs <= toMs + 1).toSeq
      .sortBy(_.jobId)
}

object Trace {
  val SpanProp = "graftbench.span"

  /** Total length of the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val c = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0; var curA = Double.NaN; var curB = Double.NaN
    c.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Self time per layer: the time a layer's spans cover less the part
    * their children cover, summed by layer and ranked, largest first.
    * Sibling spans of one layer may overlap (concurrent Spark jobs), so each
    * sibling group counts the union of its intervals. */
  def selfTimeByLayer(spans: Seq[Span]): Seq[(String, Double)] = {
    val kids = spans.groupBy(_.parent)
    val all = (Double.MinValue, Double.MaxValue)
    spans.groupBy(s => (s.parent, s.layer)).toSeq.map { case ((_, layer), group) =>
      val own = covered(group.map(s => (s.startMs, s.endMs)), all._1, all._2)
      val ch = group.flatMap(s => kids.getOrElse(s.id, Nil)).map(c => (c.startMs, c.endMs))
      layer -> (own - covered(ch, all._1, all._2))
    }.groupMapReduce(_._1)(_._2)(_ + _).toSeq.sortBy(-_._2)
  }
}
