package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.pipeline.{HttpRequest, HttpResponse, HttpTransport}

/** One span of the traced run. Times are wall-clock ms, the clock Spark
  * stamps its listener events with.
  */
final case class Span(id: Long, parent: Long, name: String, start: Long, end: Long,
    attrs: Seq[(String, Any)] = Nil)

object Spans {
  private val ids = new AtomicLong(0)
  def nextId(): Long = ids.incrementAndGet()

  /** Fetch timings recorded by [[TimedTransport]] inside Spark tasks
    * (same JVM under local mode): (start ms, end ms, duration ns, path, status).
    */
  val sends = new ConcurrentLinkedQueue[(Long, Long, Long, String, Int)]()
}

/** Delegating transport that times every send into [[Spans.sends]]. */
final class TimedTransport(inner: HttpTransport) extends HttpTransport {
  override def send(req: HttpRequest): HttpResponse = {
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var status = -1
    try { val r = inner.send(req); status = r.status; r }
    finally {
      val path = req.url.replaceFirst("^[a-z]+://[^/]+", "").replaceFirst("^(/[a-z]+).*$", "$1")
      Spans.sends.add((w0, System.currentTimeMillis(), System.nanoTime() - t0, s"${req.method} $path", status))
    }
  }
}

final case class Job(id: Int, op: String, start: Long, var end: Long, stages: Seq[Int])
final class StageTotals(var tasks: Long = 0, var taskMs: Long = 0, var shuffleWrite: Long = 0,
    var spill: Long = 0, var input: Long = 0, var output: Long = 0, var outputRows: Long = 0,
    var start: Long = -1, var end: Long = -1)

/** Job/stage/task totals and planning time collected from the events Spark
  * already posts. Jobs carry the benchmark's operation id in the local
  * property [[Engine.OpKey]], set before each call into the program;
  * planning phases are attributed by the wall-clock interval they start in.
  */
final class Engine extends SparkListener with QueryExecutionListener {
  val jobs = mutable.LinkedHashMap[Int, Job]()
  val stages = mutable.HashMap[Int, StageTotals]()
  val planPhases = mutable.ArrayBuffer[(Long, Long)]() // (start ms, duration ms)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(Engine.OpKey))).getOrElse("")
    jobs(e.jobId) = Job(e.jobId, op, e.time, -1L, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val t = stages.getOrElseUpdate(e.stageId, new StageTotals)
    t.tasks += 1
    if (m != null) {
      t.taskMs += m.executorRunTime
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      t.input += m.inputMetrics.bytesRead
      t.output += m.outputMetrics.bytesWritten
      t.outputRows += m.outputMetrics.recordsWritten
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val t = stages.getOrElseUpdate(e.stageInfo.stageId, new StageTotals)
    t.start = e.stageInfo.submissionTime.getOrElse(-1L)
    t.end = e.stageInfo.completionTime.getOrElse(-1L)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPlanning(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordPlanning(qe)
  private def recordPlanning(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases.values
    if (ph.nonEmpty) planPhases += ((ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum))
  }

  def jobsOf(ops: Set[String]): Seq[Job] = synchronized(jobs.values.filter(j => ops(j.op)).toSeq)
  def stageTotals(js: Seq[Job]): Seq[(Int, Int, StageTotals)] = synchronized {
    js.flatMap(j => j.stages.flatMap(s => stages.get(s).map(t => (j.id, s, t))))
  }
  def planMsWithin(intervals: Seq[(Long, Long)]): Long = synchronized {
    planPhases.collect { case (s, d) if intervals.exists { case (a, b) => s >= a && s <= b } => d }.sum
  }
}

object Engine {
  val OpKey = "perfbench.op"

  def attach(spark: SparkSession): Engine = {
    val e = new Engine
    spark.sparkContext.addSparkListener(e)
    spark.listenerManager.register(e)
    e
  }

  /** Wait until the listener bus has delivered every posted event. */
  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchBus.waitUntilEmpty(sc)

  /** Length of the union of `ivs`, clipped to [lo, hi]. */
  def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._2 > x._1)
      .sortBy(_._1).foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
    if (curE > curS) total += curE - curS
    total
  }
}

/** JVM-wide readings: live heap, total GC time and process CPU time. */
object Jvm {
  /** Heap still in use after full collections: unlike a reading taken
    * whenever, it does not depend on when the collector last ran. The
    * short pause first lets Spark finish the asynchronous block removals
    * an `unpersist()` started; the second collection frees what reference
    * processing released in the first.
    */
  def liveHeapBytes(): Long = {
    Thread.sleep(100)
    System.gc()
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
    case _ => 0L
  }
}
