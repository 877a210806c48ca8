package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall-clock milliseconds with nanosecond resolution, on the same scale as
  * the epoch-millisecond times Spark's listener events carry. */
object Clock {
  private val baseWall = System.currentTimeMillis().toDouble
  private val baseNano = System.nanoTime()
  def nowMs: Double = baseWall + (System.nanoTime() - baseNano) / 1e6
}

/** One traced interval; `parent` 0 is the root. */
final case class Span(id: Long, parent: Long, name: String,
    startMs: Double, endMs: Double, attrs: Map[String, Any] = Map.empty) {
  def durMs: Double = endMs - startMs
}

/** Spans recorded by the benchmark around each call into a layer. The active
  * span id is also set as a Spark local property, so the jobs a call starts
  * are attributed to it by [[JobCollector]]. With `enabled` false every
  * call is a plain pass-through. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val current = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }

  def nextId(): Long = ids.incrementAndGet()

  def span[T](name: String, attrs: Map[String, Any] = Map.empty)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId()
      val parent = current.get.longValue
      val prevProp = sc.getLocalProperty(Tracer.SpanKey)
      current.set(id)
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      val t0 = Clock.nowMs
      try body
      finally {
        spans.add(Span(id, parent, name, t0, Clock.nowMs, attrs))
        current.set(parent)
        sc.setLocalProperty(Tracer.SpanKey, prevProp)
      }
    }

  def add(s: Span): Unit = if (enabled) spans.add(s)
  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startMs)
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** Self time of every span: its duration minus the part of it covered by
    * the union of its children's intervals (children of other threads
    * included, clipped to the parent). */
  def selfTimes(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0
      var (cs, ce) = (Double.NaN, Double.NaN)
      iv.foreach { case (a, b) =>
        if (cs.isNaN) { cs = a; ce = b }
        else if (a <= ce) ce = math.max(ce, b)
        else { covered += ce - cs; cs = a; ce = b }
      }
      if (!cs.isNaN) covered += ce - cs
      s.id -> math.max(0.0, s.durMs - covered)
    }.toMap
  }
}

/** Per-stage task aggregates. Written by the listener-bus thread only;
  * read after [[PerfbenchBus.drain]]. */
final class StageAgg {
  var tasks = 0L; var taskMs = 0.0; var cpuNs = 0.0
  var schedDelayMs = 0.0; var gcMs = 0.0
  var shuffleWrite = 0L; var shuffleRead = 0L; var fetchWaitMs = 0L
  var spillMem = 0L; var spillDisk = 0L; var bytesWritten = 0L
  val durations = scala.collection.mutable.ArrayBuffer.empty[Double]
}

final case class JobRec(jobId: Int, span: Long, stageIds: Seq[Int],
    submitMs: Long, endMs: Long)

final case class StageRec(stageId: Int, jobId: Int, numTasks: Int,
    submitMs: Long, endMs: Long, agg: StageAgg)

/** SparkListener keyed by job, stage and span, built on concurrent maps. */
final class JobCollector extends SparkListener {
  private val jobStart = new ConcurrentHashMap[Int, SparkListenerJobStart]()
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  val stageAggs = new ConcurrentHashMap[Int, StageAgg]()
  val stages = new ConcurrentHashMap[Int, StageRec]()

  private def spanOf(p: java.util.Properties): Long =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.SpanKey)))
      .map(_.toLong).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobStart.put(e.jobId, e)
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = jobStart.get(e.jobId)
    if (s != null)
      jobs.put(e.jobId, JobRec(e.jobId, spanOf(s.properties), s.stageIds, s.time, e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = stageAggs.computeIfAbsent(e.stageId, _ => new StageAgg)
    val i = e.taskInfo
    val m = e.taskMetrics
    a.tasks += 1
    a.taskMs += i.duration
    a.durations += i.duration.toDouble
    if (m != null) {
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.schedDelayMs += math.max(0L, i.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime)
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.spillMem += m.memoryBytesSpilled
      a.spillDisk += m.diskBytesSpilled
      a.bytesWritten += m.outputMetrics.bytesWritten
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    stages.put(si.stageId, StageRec(si.stageId, stageJob.getOrDefault(si.stageId, -1), si.numTasks,
      si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L),
      stageAggs.computeIfAbsent(si.stageId, _ => new StageAgg)))
  }
}

/** One finished Dataset action: Catalyst phase times and plan shape. */
final case class QeRec(func: String, startMs: Long,
    phases: Seq[(String, Long, Long)], codegenStages: Int, exchanges: Int,
    scanFiles: Long, scanBytes: Long, scanRows: Long, scans: Int) {
  def phaseMs(p: String): Long = phases.collect { case (`p`, a, b) => b - a }.sum
}

final class QeCollector extends QueryExecutionListener {
  val recs = new ConcurrentLinkedQueue[QeRec]()

  private def record(func: String, qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    val start = ph.values.map(_.startTimeMs).reduceOption(_ min _)
      .getOrElse(System.currentTimeMillis())
    val nodes = Plans.nodes(qe.executedPlan)
    val scans = nodes.collect { case f: FileSourceScanExec => f.metrics }
    def m(k: String) = scans.flatMap(_.get(k)).map(_.value).sum
    recs.add(QeRec(func, start,
      ph.toSeq.map { case (k, p) => (k, p.startTimeMs, p.endTimeMs) },
      nodes.count(_.isInstanceOf[WholeStageCodegenExec]),
      nodes.count {
        case _: ShuffleExchangeLike | _: ReusedExchangeExec => true
        case _ => false
      }, m("numFiles"), m("filesSize"), m("numOutputRows"), scans.size))
  }

  override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit =
    record(f, qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    record(f, qe)

}

object Plans {
  /** Every node of an executed plan, through AQE wrappers, query stages
    * and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
}

/** Progress of every micro-batch of every stream query, keyed by
  * (query name, batch id); terminations with an exception are counted. */
final class StreamCollector extends StreamingQueryListener {
  val progress = new ConcurrentHashMap[(String, Long),
    org.apache.spark.sql.streaming.StreamingQueryProgress]()
  val failed = new ConcurrentHashMap[String, String]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.put((e.progress.name, e.progress.batchId), e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    e.exception.foreach(x => failed.put(e.id.toString, x))

  def of(name: String): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    progress.asScala.collect { case ((n, _), p) if n == name => p }
      .toSeq.sortBy(_.batchId)
}

/** Peak old-generation occupancy after collection, from GC notifications
  * (the same figure `MemoryPoolMXBean.getCollectionUsage` reports), plus
  * this JVM's accumulated collection time. */
final class GcWatch extends NotificationListener {
  @volatile private var peak = 0L
  @volatile var active = false
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  emitters.foreach(_.asInstanceOf[NotificationEmitter].addNotificationListener(this, null, null))

  private def oldPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))

  override def handleNotification(n: Notification, hb: AnyRef): Unit =
    if (active && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(
        n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
      val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (k, v) if k.contains("Old Gen") || k.contains("Tenured") => v.getUsed }
        .sum
      if (after > peak) peak = after
    }

  def start(): Unit = { peak = 0L; active = true }
  /** Peak in MB since [[start]]; when no collection ran, the current
    * collection usage of the old pools. */
  def stopPeakMb(): Double = {
    active = false
    val p = if (peak > 0) peak
      else oldPools.map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L)).sum
    p / 1048576.0
  }
  def gcSeconds: Double = emitters.map(_.getCollectionTime).sum / 1000.0
  /** Heap still in use after a full collection, in MB: what the run keeps
    * alive (inputs, buffered stream data, caches), not garbage timing. */
  def liveMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
  def close(): Unit = emitters.foreach(e =>
    scala.util.Try(e.asInstanceOf[NotificationEmitter].removeNotificationListener(this)))
}

/** The collectors, registered on one session. With `full` false only the
  * stream progress collector is registered (what an untraced run needs). */
final class Collectors(spark: SparkSession, full: Boolean = true) {
  val jobs = new JobCollector
  val qes = new QeCollector
  val streams = new StreamCollector
  if (full) {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(qes)
  }
  spark.streams.addListener(streams)
  def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)
  def close(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(jobs)
    spark.listenerManager.unregister(qes)
    spark.streams.removeListener(streams)
  }
}
