package perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. `trace` groups the spans of
  * one operation (a pass); `parent` is the enclosing span's id, 0 at
  * the root. Times are nanoseconds from the first span of the process. */
final case class Span(id: Int, parent: Int, trace: Int, name: String,
    startNs: Long, endNs: Long)

/** Times calls around layer boundaries. Every call is timed, because the
  * benchmark's own numbers come from these timings; spans are kept in
  * memory only when tracing is on, and written out once at exit. */
final class Tracer(var recording: Boolean) {
  private val origin = System.nanoTime()
  private val stack = mutable.Stack[Int]()
  private var nextId = 1
  private var traceId = 0
  val spans = mutable.ArrayBuffer[Span]()

  def newTrace(): Unit = traceId += 1

  /** Runs `body` inside a span; returns its result and its seconds. */
  def timed[T](name: String)(body: => T): (T, Double) = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(0)
    val trace = traceId
    stack.push(id)
    val t0 = System.nanoTime()
    try {
      val out = body
      val t1 = System.nanoTime()
      if (recording) spans += Span(id, parent, trace, name, t0 - origin, t1 - origin)
      (out, (t1 - t0) / 1e9)
    } finally stack.pop()
  }

  def time(name: String)(body: => Unit): Double = timed(name)(body)._2

  def toJson: Any = spans.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "trace" -> s.trace, "name" -> s.name,
    "start_ns" -> s.startNs, "end_ns" -> s.endNs))
}

/** Spark-side counts for the `exec` layer, split by the `perfbench.phase`
  * local property of the job that ran them ("cold", "warm", ...); the
  * jobs started while `perfbench.op` was "body" are also counted apart. */
final class ExecStats extends SparkListener {
  final class Counts {
    var jobs, stages, tasks, singleTaskStages = 0L
    var runMs, cpuNs, gcMs = 0L
    var shuffleWrite, shuffleRead, spill, input, output = 0L
    var maxSkew = 0.0
    var bodyJobs = 0L
    def toJson: Map[String, Any] = Map(
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
      "single_task_stages" -> singleTaskStages, "run_s" -> runMs / 1e3,
      "cpu_s" -> cpuNs / 1e9, "gc_s" -> gcMs / 1e3,
      "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
      "spill_bytes" -> spill, "input_bytes" -> input, "output_bytes" -> output,
      "max_task_skew" -> maxSkew, "body_jobs" -> bodyJobs)
  }
  private val byPhase = mutable.LinkedHashMap[String, Counts]()
  private val stagePhase = mutable.HashMap[Int, String]()
  private val stageTaskMs = mutable.HashMap[Int, mutable.ArrayBuffer[Long]]()

  private def phaseOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("perfbench.phase"))).getOrElse("other")
  private def counts(phase: String): Counts = byPhase.getOrElseUpdate(phase, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val c = counts(phaseOf(e.properties))
    c.jobs += 1
    if (Option(e.properties).exists(_.getProperty("perfbench.op") == "body")) c.bodyJobs += 1
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stagePhase(e.stageInfo.stageId) = phaseOf(e.properties)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counts(stagePhase.getOrElse(e.stageId, "other"))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.input += m.inputMetrics.bytesRead
      c.output += m.outputMetrics.bytesWritten
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += m.executorRunTime
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    val c = counts(stagePhase.getOrElse(id, "other"))
    c.stages += 1
    if (e.stageInfo.numTasks == 1) c.singleTaskStages += 1
    // skew = slowest task over the median task of the stage
    stageTaskMs.remove(id).map(_.sorted).filter(_.size >= 2).foreach { ms =>
      val median = math.max(ms(ms.size / 2), 1L)
      c.maxSkew = math.max(c.maxSkew, ms.last.toDouble / median)
    }
    stagePhase.remove(id)
  }

  def toJson: Any = synchronized {
    Map("phases" -> byPhase.map { case (k, v) => k -> v.toJson }.toMap)
  }
}

/** Catalyst phase times of every action (`QueryPlanningTracker`), summed
  * per phase under the current `label`. */
final class PlanStats extends QueryExecutionListener {
  @volatile var label = "other"
  private val sums = mutable.LinkedHashMap[String, mutable.Map[String, Double]]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val m = sums.getOrElseUpdate(label, mutable.LinkedHashMap())
      qe.tracker.phases.foreach { case (phase, summary) =>
        m(phase) = m.getOrElse(phase, 0.0) + summary.durationMs / 1e3
      }
      m("actions") = m.getOrElse("actions", 0.0) + 1
    }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  def toJson: Any = synchronized { sums.map { case (k, v) => k -> v.toMap }.toMap }
}

/** Highest old-generation occupancy after the full collections that
  * `sample` requests between passes: the live set at quiet points. The
  * collections the JVM starts by itself are left out, because what they
  * leave depends on when they happen to run. */
final class HeapPeak {
  @volatile private var peak = 0L
  private val oldPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .map(_.getName).filter(n => n.contains("Old") || n.contains("Tenured")).toSet
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        if (info.getGcCause == "System.gc()") {
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if oldPools(pool) => u.getUsed }.sum
          synchronized { peak = math.max(peak, used) }
        }
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }
  /** Collects at a quiet point; every pass contributes one sample. */
  def sample(): Unit = System.gc()
  def resetMb(): Double = synchronized { val mb = peak / 1048576.0; peak = 0L; mb }
}

/** Waits, before a warm pass, until the JIT compilers have been idle for
  * a while, so the pass does not share the cores with compilations the
  * previous pass queued. Gives up after `maxMs`. */
object JitSettle {
  private val bean = ManagementFactory.getCompilationMXBean
  def apply(quietMs: Long = 600, maxMs: Long = 8000): Unit = {
    val end = System.currentTimeMillis() + maxMs
    var last = bean.getTotalCompilationTime
    var quietSince = System.currentTimeMillis()
    while (System.currentTimeMillis() - quietSince < quietMs && System.currentTimeMillis() < end) {
      Thread.sleep(100)
      val now = bean.getTotalCompilationTime
      if (now != last) { last = now; quietSince = System.currentTimeMillis() }
    }
  }
}

/** Registers the listeners of a traced run; untraced runs register none. */
final class Listeners(spark: SparkSession) {
  val exec = new ExecStats
  val plans = new PlanStats
  spark.sparkContext.addSparkListener(exec)
  spark.listenerManager.register(plans)
  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
  def close(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(exec)
    spark.listenerManager.unregister(plans)
  }
}
