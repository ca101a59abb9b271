package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One timed layer call. Times are epoch nanoseconds so spans line up
  * with Spark's own (epoch-millisecond) job events. `parent` is 0 for a
  * root span; `req` names the operation the span belongs to. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long,
    req: String)

/** In-memory span recorder. While `on` is false `span` is a plain call,
  * so the untraced path carries no bookkeeping. */
final class Tracer {
  @volatile var on: Boolean = false
  @volatile var request: String = ""
  private val spans = ArrayBuffer.empty[Span]
  private val ids = new AtomicInteger(0)
  private val stack = ThreadLocal.withInitial[List[(Int, Long, String)]](() => Nil)
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def nowNs(): Long = System.nanoTime() + epochOffsetNs

  /** Open a span on this thread; it parents every span opened before the
    * matching [[end]]. For layer calls that start and finish in different
    * callbacks; prefer [[span]]. */
  def begin(name: String): Unit =
    if (on) stack.set((ids.incrementAndGet(), nowNs(), name) :: stack.get)

  /** Close the innermost open span on this thread. */
  def end(): Unit = stack.get match {
    case (id, t0, name) :: rest =>
      val t1 = nowNs()
      stack.set(rest)
      val parent = rest.headOption.map(_._1).getOrElse(0)
      val req = request
      spans.synchronized(spans += Span(id, parent, name, t0, t1, req))
    case Nil => ()
  }

  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      begin(name)
      try f finally end()
    }

  def all: Seq[Span] = spans.synchronized(spans.toVector)
}

/** Spark-side counters for the traced run: every job's interval and the
  * task metrics of its stages, plus Catalyst phase times per action. */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  import SparkCounters.ActionRec
  final class JobRec(val id: Int, val startNs: Long) {
    var endNs: Long = startNs
    var stages = 0
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var inputBytes = 0L
    var shuffleReadBytes = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var peakExecMem = 0L
    var outputBytes = 0L
  }

  private val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageToJob = scala.collection.mutable.HashMap.empty[Int, Int]
  private val actions = ArrayBuffer.empty[ActionRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new JobRec(e.jobId, e.time * 1000000L)
    e.stageIds.foreach(s => stageToJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endNs = e.time * 1000000L)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageToJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    for (j <- stageToJob.get(e.stageId).flatMap(jobs.get) if m != null) {
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.inputBytes += m.inputMetrics.bytesRead
      j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      j.peakExecMem = math.max(j.peakExecMem, m.peakExecutionMemory)
      j.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    val now = System.currentTimeMillis() * 1000000L
    synchronized(actions += ActionRec(funcName, now, durationNs,
      ms("analysis"), ms("optimization"), ms("planning")))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def jobRecs: Seq[JobRec] = synchronized(jobs.values.toVector)
  def actionRecs: Seq[ActionRec] = synchronized(actions.toVector)
}

object SparkCounters {
  final case class ActionRec(func: String, endNs: Long, durationNs: Long,
      analysisMs: Long, optimizationMs: Long, planningMs: Long)
}

object Jvm {
  /** Cumulative collection time over all collectors, in seconds. */
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1000.0

  def heapMaxMb: Long = Runtime.getRuntime.maxMemory / (1024L * 1024L)
}
