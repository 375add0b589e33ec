package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.{AtomicLong, AtomicLongArray}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Counter snapshot taken at a span boundary. Times in ms, sizes in bytes. */
final case class Counts(jobs: Long, stages: Long, tasks: Long, cpuMs: Double, runMs: Double,
                        gcMs: Double, shuffleWrite: Long, shuffleRead: Long, spill: Long,
                        compiles: Long, fallbacks: Long) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    cpuMs - o.cpuMs, runMs - o.runMs, gcMs - o.gcMs, shuffleWrite - o.shuffleWrite,
    shuffleRead - o.shuffleRead, spill - o.spill, compiles - o.compiles, fallbacks - o.fallbacks)
}

/** Spark listener totals. One client thread submits all work, so every job
  * belongs to the span it ran in.
  */
final class ExecCounters(fallbacks: AtomicLong) extends SparkListener {
  private val jobs = new AtomicLong
  private val stages = new AtomicLong
  // tasks, cpu ns, run ms, gc ms, shuffle write, shuffle read, spill
  private val task = new AtomicLongArray(7)

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    task.incrementAndGet(0)
    val m = e.taskMetrics
    if (m != null) {
      task.addAndGet(1, m.executorCpuTime)
      task.addAndGet(2, m.executorRunTime)
      task.addAndGet(3, m.jvmGCTime)
      task.addAndGet(4, m.shuffleWriteMetrics.bytesWritten)
      task.addAndGet(5, m.shuffleReadMetrics.totalBytesRead)
      task.addAndGet(6, m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def snapshot(): Counts = Counts(jobs.get, stages.get, task.get(0), task.get(1) / 1e6,
    task.get(2).toDouble, task.get(3).toDouble, task.get(4), task.get(5), task.get(6),
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount, fallbacks.get)
}

/** Heap occupancy just after each GC, from the JVM's GC notifications. */
final class GcWatcher {
  private val peak = new AtomicLong(0)
  @volatile private var armed = false
  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, hb: Any): Unit =
      if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peak.accumulateAndGet(used, (a, b) => math.max(a, b))
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }

  def arm(): Unit = { peak.set(0); armed = true }
  def disarm(): Unit = armed = false
  /** Peak post-GC heap in MB since [[arm]]; falls back to the current heap
    * when no GC ran in the window.
    */
  def peakMb: Double = {
    val p = peak.get
    val bytes = if (p > 0) p else {
      val rt = Runtime.getRuntime
      rt.totalMemory - rt.freeMemory
    }
    bytes / 1048576.0
  }
}

/** Largest generated method per whole-stage-codegen subtree of executed
  * plans, read with Spark's debug developer API (no session setting).
  */
object CodegenInspector {
  /** HotSpot does not JIT methods above this many bytecode bytes. */
  val HugeMethodBytes = 8000

  /** Largest method of each distinct generated class in the plans. */
  def methodSizes(plans: Seq[SparkPlan]): Seq[Int] =
    plans.flatMap(classes).toMap.values.toSeq

  /** (generated source, largest method bytes), cached subplans included. */
  private def classes(plan: SparkPlan): Seq[(String, Int)] =
    org.apache.spark.sql.execution.debug.codegenStringSeq(plan)
      .map(c => c._2 -> c._3.maxMethodCodeSize) ++
      nodes(plan).collect { case s: InMemoryTableScanExec => s.relation.cachedPlan }
        .flatMap(classes)

  /** Every node, looking through adaptive plans and query stages, which
    * plain tree traversal treats as leaves.
    */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }
}

/** Records every successful action's QueryExecution so the codegen of what
  * actually ran can be inspected after the operation.
  */
final class ExecutedPlans extends QueryExecutionListener {
  private val buf = mutable.ArrayBuffer.empty[QueryExecution]
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    buf.synchronized { buf += qe }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  def drainAll(): Seq[QueryExecution] = buf.synchronized { val r = buf.toList; buf.clear(); r }
}

final case class Span(name: String, id: Int, parent: Int, op: Int, startNs: Long, endNs: Long,
                      counts: Counts) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans around each call into a graft layer. The untraced tracer only
  * runs the body, so the timed run pays nothing for the instrumentation.
  */
sealed trait Tracer {
  def span[T](name: String)(body: => T): T
  def op[T](id: Int)(body: => T): T
}

object NoTrace extends Tracer {
  override def span[T](name: String)(body: => T): T = body
  override def op[T](id: Int)(body: => T): T = body
}

final class ActiveTrace(spark: SparkSession, counters: ExecCounters, plans: ExecutedPlans)
    extends Tracer {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var opId = -1

  private def snap(): Counts = {
    org.apache.spark.graftbench.ListenerBusDrain(spark.sparkContext)
    counters.snapshot()
  }

  override def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val c0 = snap()
    val t0 = System.nanoTime()
    stack ::= id
    try body
    finally {
      stack = stack.tail
      val t1 = System.nanoTime()
      spans += Span(name, id, parent, opId, t0, t1, snap() - c0)
    }
  }

  /** Plans the latest traced operation executed, for codegen inspection. */
  var lastPlans: Seq[QueryExecution] = Nil

  override def op[T](id: Int)(body: => T): T = {
    opId = id
    org.apache.spark.graftbench.ListenerBusDrain(spark.sparkContext)
    plans.drainAll()
    try span("op")(body)
    finally {
      org.apache.spark.graftbench.ListenerBusDrain(spark.sparkContext)
      lastPlans = plans.drainAll()
    }
  }

  /** Self time: the span's duration minus what its direct children cover. */
  def selfMs(s: Span): Double =
    s.ms - spans.iterator.filter(_.parent == s.id).map(_.ms).sum

  def toJson: String = Json.arr(spans.toSeq.map { s =>
    Json.obj(Seq("name" -> Json.str(s.name), "id" -> Json.num(s.id), "parent" -> Json.num(s.parent),
      "op" -> Json.num(s.op), "start_ns" -> Json.num(s.startNs.toDouble),
      "end_ns" -> Json.num(s.endNs.toDouble), "self_ms" -> Json.num(selfMs(s)),
      "jobs" -> Json.num(s.counts.jobs.toDouble), "stages" -> Json.num(s.counts.stages.toDouble),
      "tasks" -> Json.num(s.counts.tasks.toDouble), "cpu_ms" -> Json.num(s.counts.cpuMs),
      "run_ms" -> Json.num(s.counts.runMs), "gc_ms" -> Json.num(s.counts.gcMs),
      "shuffle_write_bytes" -> Json.num(s.counts.shuffleWrite.toDouble),
      "shuffle_read_bytes" -> Json.num(s.counts.shuffleRead.toDouble),
      "spill_bytes" -> Json.num(s.counts.spill.toDouble),
      "codegen_compiles" -> Json.num(s.counts.compiles.toDouble),
      "base_fallbacks" -> Json.num(s.counts.fallbacks.toDouble)))
  })
}
