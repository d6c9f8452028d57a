package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** One timed interval. Times are epoch nanoseconds (harness spans) or epoch
  * milliseconds scaled to nanoseconds (listener spans, which Spark stamps in
  * ms). `parent` is the id of the enclosing harness span, `req` the id of the
  * request (query, job or micro-batch) the span belongs to.
  */
final case class Span(
    id: Long, name: String, start: Long, end: Long, parent: Long, req: String)

/** Spans kept in memory and written once, when the run ends. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }

  def now(): Long = Clock.nowNs()

  /** Runs `body` inside a span. The layer and request ride along as Spark
    * local properties, so the probe can attribute each job to the layer
    * that issued it. With tracing off, `body` just runs. */
  def span[T](spark: SparkSession, name: String, req: String)(body: => T): T =
    if (!enabled) body else {
      val sc = spark.sparkContext
      val prevLayer = sc.getLocalProperty(Tracer.LayerKey)
      val prevReq = sc.getLocalProperty(Tracer.ReqKey)
      sc.setLocalProperty(Tracer.LayerKey, name)
      sc.setLocalProperty(Tracer.ReqKey, req)
      val id = ids.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(0L)
      stack.set(id :: stack.get())
      val t0 = now()
      try body finally {
        spans.add(Span(id, name, t0, now(), parent, req))
        stack.set(stack.get().tail)
        sc.setLocalProperty(Tracer.LayerKey, prevLayer)
        sc.setLocalProperty(Tracer.ReqKey, prevReq)
      }
    }

  def record(name: String, start: Long, end: Long, req: String): Unit =
    if (enabled) spans.add(Span(ids.incrementAndGet(), name, start, end, 0L, req))

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.start)
}

object Tracer {
  val LayerKey = "perfbench.layer"
  val ReqKey = "perfbench.req"
}

/** Wall clock in epoch nanoseconds with monotonic increments, so spans from
  * System.nanoTime line up with Spark's epoch-millisecond event stamps. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowNs(): Long = baseMs * 1000000L + (System.nanoTime() - baseNs)
  def msToNs(ms: Long): Long = ms * 1000000L
}

/** The traced run's listeners: Spark's public SparkListener (jobs, stages,
  * tasks, blocks) and QueryExecutionListener (Catalyst phases). Counters
  * are keyed by the harness layer that issued each job. */
final class LayerProbe(tracer: Tracer) extends SparkListener with QueryExecutionListener {
  private val lock = new Object
  private val jobStart = mutable.Map.empty[Int, (Long, String)]
  private val stageLayer = mutable.Map.empty[Int, String]
  private val stageTasks = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val perLayer = mutable.Map.empty[(String, String), Double].withDefaultValue(0.0)
  private val stragglerRatios = mutable.ArrayBuffer.empty[Double]
  private val rddsSeen = mutable.Set.empty[Int]

  private def add(k: String, v: Double): Unit = counts(k) += v
  private def addL(layer: String, k: String, v: Double): Unit = perLayer((layer, k)) += v

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val props = Option(e.properties)
    val layer = props.flatMap(p => Option(p.getProperty(Tracer.LayerKey)))
      .getOrElse(if (props.exists(_.getProperty("sql.streaming.queryId") != null))
        "stream" else "other")
    val req = props.flatMap(p => Option(p.getProperty(Tracer.ReqKey))).getOrElse("")
    jobStart(e.jobId) = (e.time, req)
    e.stageIds.foreach(s => stageLayer(s) = layer)
    add("scheduler.jobs", 1)
    addL(layer, "jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, req) =>
      add("scheduler.job_active_ms", (e.time - t0).toDouble)
      tracer.record("spark.job", Clock.msToNs(t0), Clock.msToNs(e.time), req)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    val si = e.stageInfo
    add("scheduler.stages", 1)
    if (si.attemptNumber() > 0) add("scheduler.stage_retries", 1)
    stageTasks.remove((si.stageId, si.attemptNumber())).foreach { d =>
      // straggler ratio only where a stage has parallel work to compare
      if (d.size >= 2) {
        val s = d.sorted
        val med = s(s.size / 2).toDouble
        if (med > 0) stragglerRatios += s.last / med
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    add("scheduler.tasks", 1)
    val info = e.taskInfo
    if (info != null && info.failed) add("scheduler.task_failures", 1)
    val m = e.taskMetrics
    if (m == null) return
    val layer = stageLayer.getOrElse(e.stageId, "other")
    add("executor.run_ms", m.executorRunTime.toDouble)
    add("executor.cpu_ms", m.executorCpuTime / 1e6)
    add("executor.gc_ms", m.jvmGCTime.toDouble)
    add("executor.deserialize_ms", m.executorDeserializeTime.toDouble)
    add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
    add("shuffle.read_mb", (m.shuffleReadMetrics.remoteBytesRead +
      m.shuffleReadMetrics.localBytesRead) / 1048576.0)
    add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
    add("shuffle.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
    addL(layer, "result_mb", m.resultSize / 1048576.0)
    if (info != null) {
      val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime
      add("scheduler.task_delay_ms", math.max(0L, delay).toDouble)
      stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId),
        mutable.ArrayBuffer.empty) += info.duration
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = lock.synchronized {
    val b = e.blockUpdatedInfo
    b.blockId match {
      case RDDBlockId(rdd, _) if b.storageLevel.isValid =>
        if (rddsSeen.add(rdd)) add("ops.materializations", 1)
        add("ops.materialized_mb", (b.memSize + b.diskSize) / 1048576.0)
      case _ =>
    }
  }

  private def phases(qe: QueryExecution, req: String): Unit = {
    add("catalyst.executions", 1)
    qe.tracker.phases.foreach { case (phase, s) =>
      add(s"catalyst.${phase}_ms", (s.endTimeMs - s.startTimeMs).toDouble)
      tracer.record(s"catalyst.$phase", Clock.msToNs(s.startTimeMs),
        Clock.msToNs(s.endTimeMs), req)
    }
  }

  /** Analysis that ran while a DataFrame was being built (the action's own
    * QueryExecution re-uses the analysed plan, so its tracker reads 0). */
  def builtFrame(qe: QueryExecution, req: String): Unit = lock.synchronized {
    qe.tracker.phases.get("analysis").foreach { s =>
      add("catalyst.analysis_ms", (s.endTimeMs - s.startTimeMs).toDouble)
      tracer.record("catalyst.analysis", Clock.msToNs(s.startTimeMs),
        Clock.msToNs(s.endTimeMs), req)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    lock.synchronized(phases(qe, ""))
  override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
    lock.synchronized(phases(qe, ""))

  def snapshot(): (Map[String, Double], Map[(String, String), Double], Seq[Double]) =
    lock.synchronized((counts.toMap, perLayer.toMap, stragglerRatios.toSeq))
}
