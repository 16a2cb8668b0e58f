package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Counter values at one instant; differences between two readings are
  * attributed to whatever ran in between.
  */
final case class Counts(jobs: Long = 0, tasks: Long = 0, taskMs: Long = 0,
    shuffleBytes: Long = 0, outputBytes: Long = 0, compiles: Long = 0,
    compileNs: Long = 0, gcMs: Long = 0) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, tasks - o.tasks,
    taskMs - o.taskMs, shuffleBytes - o.shuffleBytes,
    outputBytes - o.outputBytes, compiles - o.compiles,
    compileNs - o.compileNs, gcMs - o.gcMs)
  def +(o: Counts): Counts = Counts(jobs + o.jobs, tasks + o.tasks,
    taskMs + o.taskMs, shuffleBytes + o.shuffleBytes,
    outputBytes + o.outputBytes, compiles + o.compiles,
    compileNs + o.compileNs, gcMs + o.gcMs)
}

/** Scheduler-side counts: jobs started, and per finished task its
  * executor run time, shuffle bytes written and output bytes written.
  */
final class TaskCounter extends SparkListener {
  private val jobs, tasks, taskMs, shuffle, output = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    tasks.incrementAndGet()
    if (m != null) {
      taskMs.addAndGet(m.executorRunTime)
      shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      output.addAndGet(m.outputMetrics.bytesWritten)
    }
  }

  def read(): Counts = Counts(jobs.get, tasks.get, taskMs.get, shuffle.get,
    output.get)
}

/** One timed interval: a layer call, or a whole op (`parent` = -1). */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startNs: Long, endNs: Long, counts: Counts) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Process-wide readings (codegen, GC, heap) plus, when tracing, the
  * listener counts and the span log. Spans stay in memory until the run
  * ends. With tracing off the probe records nothing but what the
  * end-to-end metrics need, so untraced timings carry no bus drains.
  */
final class Probe(sc: SparkContext, val tracing: Boolean) {
  private val tasks = new TaskCounter
  if (tracing) sc.addSparkListener(tasks)
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val heapNames = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  val spans = ArrayBuffer.empty[Span]
  private var nextSpan = 0
  /** Time spent draining the listener bus: tracing's own direct cost. */
  var drainNs = 0L
  /** Set during warm-up: no spans are logged. */
  var paused = false
  /** The op every span belongs to, set by the op wrapper. */
  var currentOp = -1

  /** Codegen compiles and compile time are JVM-wide static counters;
    * GC time sums every collector.
    */
  def read(): Counts = {
    val base =
      if (tracing) {
        val t0 = System.nanoTime()
        org.apache.spark.GraftSparkInternals.drainListenerBus(sc)
        drainNs += System.nanoTime() - t0
        tasks.read()
      } else Counts()
    base.copy(
      compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      compileNs = CodeGenerator.compileTime,
      gcMs = gcBeans.map(_.getCollectionTime.max(0L)).sum)
  }

  /** Heap in use after each collection (all heap pools), taken from the
    * collectors' notifications while `heapArmed` is set; no GC is
    * forced. The maximum is `peak_heap_mb`.
    */
  @volatile var heapArmed = false
  private val peakHeap = new AtomicLong
  def peakHeapBytes: Long = peakHeap.get
  gcBeans.foreach {
    case e: javax.management.NotificationEmitter =>
      e.addNotificationListener((n: javax.management.Notification, _: AnyRef) =>
        if (heapArmed && n.getType ==
            GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapNames(pool) => u.getUsed }.sum
          peakHeap.accumulateAndGet(used, Math.max(_, _))
        }, null, null)
    case _ => ()
  }

  /** Times `body` as a span. Counts are read around it only when
    * tracing, and the span is only recorded when tracing.
    */
  def span[T](parent: Int, name: String)(body: Int => T): T = {
    val id = nextSpan
    nextSpan += 1
    val c0 = if (tracing) read() else Counts()
    val t0 = System.nanoTime()
    val out = body(id)
    val t1 = System.nanoTime()
    if (tracing && !paused) spans += Span(id, parent, currentOp, name, t0, t1, read() - c0)
    out
  }

  /** Self time per layer: a span's duration minus the part of it its
    * children cover (children of one span never overlap here: the
    * benchmark is a single thread), summed by `layer(span)`.
    */
  def selfTimes(layer: Span => String): Map[String, Double] = {
    val childNs = spans.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.endNs - c.startNs).sum }
    spans.groupBy(layer).map { case (n, ss) =>
      n -> ss.map(s => (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e9).sum
    }
  }
}
