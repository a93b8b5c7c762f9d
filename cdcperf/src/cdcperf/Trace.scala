package cdcperf

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.streaming.StreamingQueryListener

final case class Span(id: Int, parent: Int, name: String, t0: Long, t1: Long)

/** Spans and counters recorded from outside the engine.
  *
  * A span covers one call into a layer: name, start, end and the span that
  * caused it. Spark jobs submitted inside a span carry its id as a local
  * property, so the job listener can attribute job, task and broadcast
  * counts to it. Everything is kept in memory and written out when the run
  * ends. With `enabled = false` nothing is recorded and `span` only runs its
  * body.
  */
final class Trace(spark: org.apache.spark.sql.SparkSession) {

  /** One Spark job with the sums of its tasks' metrics. */
  final class Job(val id: Int, val span: Int, val t0: Long) {
    var t1: Long = -1L
    var tasks = 0
    var runMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var inputBytes = 0L
    var inputRecords = 0L
    var outputBytes = 0L
    var executionId: Long = -1L
  }

  @volatile var enabled = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]
  private val broadcastMetric = mutable.HashMap.empty[Long, Long] // accumulator id → execution id
  private val broadcastBytes = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
  private val progress = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var nextId = 1
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private val SpanProp = "cdcperf.span"
  // listener timestamps are wall-clock milliseconds; spans are nanoTime
  private val wallToNano = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def now(): Long = System.nanoTime()

  /** Run `body` as a span named `name`, child of the innermost open span. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val parent = stack.get.headOption.getOrElse(0)
      val id = synchronized { nextId += 1; nextId }
      val saved = sc.getLocalProperty(SpanProp)
      stack.set(id :: stack.get)
      sc.setLocalProperty(SpanProp, id.toString)
      val t0 = now()
      try body
      finally {
        val t1 = now()
        stack.set(stack.get.tail)
        sc.setLocalProperty(SpanProp, saved)
        synchronized { spans += Span(id, parent, name, t0, t1) }
      }
    }

  /** Record a span whose bounds were measured by the caller. */
  def record(name: String, t0: Long, t1: Long): Unit =
    if (enabled) synchronized { nextId += 1; spans += Span(nextId, 0, name, t0, t1) }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) Trace.this.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp))).map(_.toInt).getOrElse(0)
      val j = new Job(e.jobId, span, e.time * 1000000L + wallToNano)
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(x => j.executionId = x.toLong)
      jobs(e.jobId) = j
      e.stageIds.foreach(s => stageJob(s) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.get(e.jobId).foreach(_.t1 = e.time * 1000000L + wallToNano)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
        j.tasks += 1
        j.runMs += m.executorRunTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.inputBytes += m.inputMetrics.bytesRead
        j.inputRecords += m.inputMetrics.recordsRead
        j.outputBytes += m.outputMetrics.bytesWritten
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = if (enabled) e match {
      case s: SparkListenerSQLExecutionStart => noteBroadcasts(s.executionId, s.sparkPlanInfo)
      case a: SparkListenerSQLAdaptiveExecutionUpdate => noteBroadcasts(a.executionId, a.sparkPlanInfo)
      case u: SparkListenerDriverAccumUpdates => Trace.this.synchronized {
        u.accumUpdates.foreach { case (acc, v) =>
          if (broadcastMetric.get(acc).contains(u.executionId)) broadcastBytes(u.executionId) += v
        }
      }
      case _ =>
    }
  }

  private def noteBroadcasts(executionId: Long, plan: SparkPlanInfo): Unit = synchronized {
    def walk(p: SparkPlanInfo): Unit = {
      if (p.nodeName.startsWith("BroadcastExchange"))
        p.metrics.filter(_.name == "data size").foreach(m => broadcastMetric(m.accumulatorId) = executionId)
      p.children.foreach(walk)
    }
    walk(plan)
  }

  val queryListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (enabled) Trace.this.synchronized {
        val p = e.progress
        progress += Map(
          "batch" -> p.batchId,
          "rows" -> p.numInputRows,
          "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
      }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(queryListener)
  }

  /** Everything recorded, as plain maps for the JSON dump. */
  def dump(): Map[String, Any] = synchronized {
    Map(
      "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "t0" -> s.t0, "t1" -> s.t1)).toSeq,
      "jobs" -> jobs.values.filter(_.t1 > 0).map(j => Map("id" -> j.id, "span" -> j.span,
        "t0" -> j.t0, "t1" -> j.t1, "tasks" -> j.tasks, "run_ms" -> j.runMs,
        "shuffle_write" -> j.shuffleWrite, "shuffle_read" -> j.shuffleRead,
        "input_bytes" -> j.inputBytes, "input_records" -> j.inputRecords,
        "output_bytes" -> j.outputBytes,
        "broadcast_bytes" -> (if (j.executionId >= 0) broadcastBytes(j.executionId) else 0L),
        "execution" -> j.executionId)).toSeq,
      "progress" -> progress.toSeq)
  }
}

/** JVM counters read through JMX. */
object Jvm {
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val jit = ManagementFactory.getCompilationMXBean
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum
  def jitMs: Long = if (jit.isCompilationTimeMonitoringSupported) jit.getTotalCompilationTime else 0L

  private val threads = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
  private val threadCpu = mutable.HashMap.empty[Long, Long]

  /** CPU time of the JVM's application threads — the driver, Spark's
    * executor task threads and its internal threads — in nanoseconds.
    * Unlike wall time, CPU that the host's other tenants steal does not
    * inflate it; the GC and JIT compiler threads are not in it. A thread
    * that ended keeps the time it had when last seen. */
  def cpuNs: Long = synchronized {
    val ids = threads.getAllThreadIds
    val ns = threads.getThreadCpuTime(ids)
    var i = 0
    while (i < ids.length) {
      if (ns(i) > 0) threadCpu(ids(i)) = ns(i)
      i += 1
    }
    threadCpu.values.sum
  }

  /** Peak of heap-in-use right after a collection, since the last `reset`. */
  object HeapAfterGc {
    @volatile private var peak = 0L
    def reset(): Unit = peak = 0L
    def peakBytes: Long = peak
    def install(): Unit = gcBeans.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: Any) => {
          if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            if (used > peak) peak = used
          }
        }, null, null)
      case _ =>
    }
  }
}
