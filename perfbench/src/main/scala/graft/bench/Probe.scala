package graft.bench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Task-level sums from Spark's listener bus. Installed in every run:
  * `written_mb` (output + shuffle write + spill) is an end-to-end metric,
  * and the listener only adds numbers the executor already reports. */
final class TaskCounters extends SparkListener {
  val taskNanos = new AtomicLong
  val taskCpuNanos = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleWrite = new AtomicLong
  val shuffleRead = new AtomicLong
  val spill = new AtomicLong
  val output = new AtomicLong
  val tasks = new AtomicLong
  val jobs = new AtomicLong
  val stages = new AtomicLong
  /** (submission ms, completion ms) of every completed stage. */
  val stageSpans = new ConcurrentLinkedQueue[(Long, Long)]()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      taskNanos.addAndGet(m.executorRunTime * 1000000L)
      taskCpuNanos.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.diskBytesSpilled)
      output.addAndGet(m.outputMetrics.bytesWritten)
    }
    tasks.incrementAndGet(): Unit
  }
  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.incrementAndGet(): Unit
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    for (s <- e.stageInfo.submissionTime; c <- e.stageInfo.completionTime)
      stageSpans.add((s, c))
  }

  /** Bytes Spark tasks wrote: output files, shuffle files and spill. */
  def written: Long = output.get + shuffleWrite.get + spill.get

  /** Milliseconds of [t0, t1] during which at least one stage ran. */
  def busyMs(t0: Long, t1: Long): Long = {
    val spans = stageSpans.asScala.toSeq
      .map { case (s, c) => (math.max(s, t0), math.min(c, t1)) }
      .filter { case (s, c) => c > s }.sortBy(_._1)
    var busy = 0L
    var curS = -1L
    var curE = -1L
    spans.foreach { case (s, c) =>
      if (s > curE) { busy += curE - curS; curS = s; curE = c }
      else curE = math.max(curE, c)
    }
    busy + (curE - curS)
  }
}

/** Catalyst phase time (analysis, optimization, planning) of every
  * finished query execution, from its own QueryPlanningTracker. */
final class PlanTimes extends QueryExecutionListener {
  val planNanos = new AtomicLong
  private def add(qe: QueryExecution): Unit =
    qe.tracker.phases.values.foreach(p => planNanos.addAndGet(p.durationMs * 1000000L))
  override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = add(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)
}

/** Micro-batch progress of every streaming query. */
final class StreamCounters extends StreamingQueryListener {
  val batchMs = new ConcurrentLinkedQueue[java.lang.Long]()
  val stateRows = new AtomicLong
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    Option(p.durationMs.get("triggerExecution")).foreach(v => batchMs.add(v))
    stateRows.addAndGet(p.stateOperators.map(_.numRowsTotal).sum): Unit
  }
}

/** Process-level JVM counters: CPU, JIT, GC and the heap in use after
  * each collection (GC notifications carry the after-GC pool usage). */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNanos: Long = os.getProcessCpuTime
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum

  private val heapPeak = new AtomicLong
  def resetHeapPeak(): Unit = heapPeak.set(0L)
  /** Peak heap in use after a collection since the last reset; the
    * current after-GC usage when no collection has happened since. */
  def heapPeakBytes: Long = {
    val seen = heapPeak.get
    if (seen > 0) seen
    else ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
  }

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
          .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (k, v) if heapPools.contains(k) => v.getUsed }.sum
        heapPeak.accumulateAndGet(used, (a, b) => math.max(a, b)): Unit
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }
}

/** Named spans around the calls the benchmark makes into the program,
  * plus free counters. Disabled (the untraced run) every call is the bare
  * body: no clock read, no map update. */
final class Spans(val enabled: Boolean) {
  private val secs = mutable.LinkedHashMap[String, DoubleAdder]()
  private val counts = mutable.LinkedHashMap[String, DoubleAdder]()
  private val events = new ConcurrentLinkedQueue[String]()
  /** The operation the current spans run under (their parent span). */
  @volatile var parent: String = ""

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val par = parent
      val t0 = System.nanoTime()
      try body
      finally {
        val dt = (System.nanoTime() - t0) / 1e9
        synchronized(secs.getOrElseUpdate(name, new DoubleAdder)).add(dt)
        events.add(f"""{"span":"$name","parent":"$par","t0_ns":$t0,"s":$dt%.6f}""")
      }
    }

  def count(name: String, v: Double): Unit =
    if (enabled) synchronized(counts.getOrElseUpdate(name, new DoubleAdder)).add(v)

  def seconds(name: String): Double = synchronized(secs.get(name)).map(_.sum).getOrElse(0.0)
  def counter(name: String): Double = synchronized(counts.get(name)).map(_.sum).getOrElse(0.0)
  def maxOf(name: String, v: Double): Unit =
    if (enabled) synchronized {
      val a = counts.getOrElseUpdate(name, new DoubleAdder)
      if (v > a.sum) { a.reset(); a.add(v) }
    }

  def jsonl: Iterator[String] = events.iterator().asScala

  /** Forget everything recorded so far (spans cover the measured part). */
  def reset(): Unit = synchronized { secs.clear(); counts.clear(); events.clear() }
}

/** Everything a run listens to. The untraced run installs only the task
  * counters (they feed `written_mb`); the traced run adds the query and
  * streaming listeners and the spans. */
final class Probe(spark: SparkSession, traced: Boolean) {
  val tasks = new TaskCounters
  val plans = new PlanTimes
  val streams = new StreamCounters
  val spans = new Spans(traced)
  spark.sparkContext.addSparkListener(tasks)
  if (traced) {
    spark.listenerManager.register(plans)
    spark.streams.addListener(streams)
  }
  Jvm.heapPeakBytes: Unit // load the GC listener

  /** Counter values at the start of the measured part. */
  private var base: Map[String, Double] = Map.empty
  private var t0Ms = 0L
  private var t0Ns = 0L

  private def codegen = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
  private def snapshot: Map[String, Double] = Map(
    "task_s" -> tasks.taskNanos.get / 1e9,
    "task_cpu_s" -> tasks.taskCpuNanos.get / 1e9,
    "gc_task_s" -> tasks.gcMs.get / 1e3,
    "shuffle_write" -> tasks.shuffleWrite.get.toDouble,
    "shuffle_read" -> tasks.shuffleRead.get.toDouble,
    "spill" -> tasks.spill.get.toDouble,
    "output" -> tasks.output.get.toDouble,
    "written" -> tasks.written.toDouble,
    "tasks" -> tasks.tasks.get.toDouble,
    "jobs" -> tasks.jobs.get.toDouble,
    "stages" -> tasks.stages.get.toDouble,
    "plan_s" -> plans.planNanos.get / 1e9,
    "cpu_s" -> Jvm.cpuNanos / 1e9,
    "jit_s" -> Jvm.jitMs / 1e3,
    "jvm_gc_s" -> Jvm.gcMs / 1e3,
    "codegen_classes" -> codegen.getCount.toDouble,
    "stream_batches" -> streams.batchMs.size.toDouble,
    "state_rows" -> streams.stateRows.get.toDouble)

  /** Wait until the listener bus has delivered every event posted so far. */
  def drain(): Unit = {
    // the bus is Spark-internal; its accessor is public in bytecode
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty", classOf[Long]).invoke(bus, Long.box(30000L)): Unit
  }

  def start(): Unit = {
    drain()
    Jvm.resetHeapPeak()
    streams.batchMs.clear()
    spans.reset()
    base = snapshot
    t0Ms = System.currentTimeMillis()
    t0Ns = System.nanoTime()
  }

  /** Counter deltas over the measured part, plus its wall and the share
    * of it with no stage running. */
  def stop(pausedSeconds: Double): Map[String, Double] = {
    val wall = (System.nanoTime() - t0Ns) / 1e9 - pausedSeconds
    val t1Ms = System.currentTimeMillis()
    drain()
    val now = snapshot
    val d = now.map { case (k, v) => k -> (v - base.getOrElse(k, 0.0)) }
    val batches = streams.batchMs.asScala.toSeq.map(_.toDouble / 1e3).sorted
    d ++ Map(
      // the compile-time histogram keeps a sample, not a sum: new
      // compilations times their mean
      "codegen_s" -> d("codegen_classes") * codegen.getSnapshot.getMean / 1e3,
      "wall_s" -> wall,
      "dispatch_gap_s" -> math.max(0.0, wall - tasks.busyMs(t0Ms, t1Ms) / 1e3),
      "heap_peak_mb" -> Jvm.heapPeakBytes / 1048576.0,
      "batch_p50_s" -> (if (batches.isEmpty) 0.0 else batches(batches.size / 2)))
  }
}
