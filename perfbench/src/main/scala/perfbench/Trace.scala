package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Engine figures are attributed to the innermost
  * span open when the job, stage, query execution or streaming batch
  * started; `counts` holds what the benchmark records at the boundary. */
final class Span(val id: Int, val parent: Int, val name: String) {
  var startNs = 0L
  var endNs = 0L
  var startMs = 0L
  var endMs = Long.MaxValue
  val counts: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)

  def seconds: Double = (endNs - startNs) / 1e9
  def add(key: String, v: Double): Unit = counts(key) += v
}

/** In-memory span recorder plus the listeners that feed it. Spans nest on
  * the calling thread; listener callbacks arrive on Spark's listener bus
  * and find their span by start time. Nothing is written until [[spans]]
  * is read at the end of the run. */
final class Tracer(spark: SparkSession) {
  private val all = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private val stageSpan = mutable.Map.empty[Int, Span]

  def spans: Seq[Span] = synchronized(all.toList)

  def span[A](name: String)(f: => A): A = {
    val s = synchronized {
      val s = new Span(all.size, stack.headOption.fold(-1)(_.id), name)
      all += s
      stack ::= s
      s.startMs = System.currentTimeMillis()
      s.startNs = System.nanoTime()
      s
    }
    try f
    finally synchronized {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack = stack.tail
    }
  }

  /** Adds `v` to `key` on the innermost open span. */
  def count(key: String, v: Double): Unit = synchronized(stack.head.add(key, v))

  private def spanAt(ms: Long): Option[Span] =
    all.reverseIterator.find(s => s.startMs <= ms && ms <= s.endMs)

  private def at(ms: Long)(f: Span => Unit): Unit = synchronized(spanAt(ms).foreach(f))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      at(e.time)(_.add("spark.jobs", 1))

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val ms = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      at(ms) { s => stageSpan(e.stageInfo.stageId) = s; s.add("spark.stages", 1) }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageSpan.get(e.stageId).foreach { s =>
        val info = e.taskInfo
        s.add("spark.tasks", 1)
        if (info.failed || info.killed) s.add("spark.failed_tasks", 1)
        val m = e.taskMetrics
        if (m != null) {
          s.add("spark.task_s", m.executorRunTime / 1e3)
          s.add("spark.task_cpu_s", m.executorCpuTime / 1e9)
          s.add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
          s.add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
          s.add("spark.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
          s.add("spark.output_bytes", m.outputMetrics.bytesWritten)
          s.add("spark.output_rows", m.outputMetrics.recordsWritten)
          // the scheduler-delay definition of Spark's own status store
          val gettingResult =
            if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L
          val delay = info.finishTime - info.launchTime - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - gettingResult
          s.add("spark.scheduler_delay_s", math.max(0L, delay) / 1e3)
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
      record(qe, 0L)

    private def record(qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      if (phases.nonEmpty) at(phases.values.map(_.endTimeMs).max) { s =>
        s.add("plan_s", phases.values.map(_.durationMs).sum / 1e3)
        s.add("action_s", durationNs / 1e9)
        val scans = PlanWalk.collectWithSubqueries(qe.executedPlan) {
          case p if p.metrics.contains("filesPlanned") => p.metrics
        }
        s.add("sources.files_planned", scans.map(_("filesPlanned").value).sum)
        s.add("sources.files_skipped", scans.flatMap(_.collect {
          case (k, m) if k.startsWith("filesSkipped") => m.value
        }).sum)
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.withDefaultValue(0L)
      at(java.time.Instant.parse(p.timestamp).toEpochMilli) { s =>
        s.add("streaming.batches", 1)
        s.add("streaming.batch_s", d("triggerExecution") / 1e3)
        s.add("streaming.commit_s", (d("walCommit") + d("commitOffsets")) / 1e3)
      }
    }
  }

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq

  def gcSeconds: Double = gcBeans.map(_.getCollectionTime).filter(_ >= 0).sum / 1e3

  def resetPeakHeap(): Unit = heapPools.foreach(_.resetPeakUsage())

  def peakHeapBytes: Double = heapPools.map(_.getPeakUsage.getUsed).sum.toDouble

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Waits until every posted event has reached the listeners, then
    * removes them. */
  def detach(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }
}

/** Walks adaptive plans into their final stages. */
private object PlanWalk extends AdaptiveSparkPlanHelper

object Tracer {
  /** Sum of `key` over `root` and every span below it. */
  def total(spans: Seq[Span], root: Span, key: String): Double = {
    val byParent = spans.groupBy(_.parent)
    def go(s: Span): Double = s.counts(key) + byParent.getOrElse(s.id, Nil).map(go).sum
    go(root)
  }
}
