package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Wall clock in epoch seconds with nanosecond-timer resolution, so span
  * times line up with the epoch-millisecond times Spark's listener events
  * carry. */
object Clock {
  private val epoch0 = System.currentTimeMillis() / 1e3
  private val nano0 = System.nanoTime()
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e9
}

/** One timed interval: workload, pass, call, build/plan/execute, stream
  * batch. `parent` is the id of the span that caused it (-1 for the root). */
final case class Span(id: Int, parent: Int, name: String, kind: String,
                      start: Double, end: Double, attrs: Map[String, Any])

/** A span that has started and not yet ended. */
final case class OpenSpan(id: Int, parent: Int, name: String, kind: String,
                          start: Double)

/** In-memory span recorder; written out once, at exit. */
final class Spans {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var next = 0
  def open(parent: Int, name: String, kind: String): OpenSpan = {
    next += 1
    OpenSpan(next, parent, name, kind, Clock.now())
  }
  def close(o: OpenSpan, attrs: Map[String, Any] = Map.empty): Span = {
    val s = Span(o.id, o.parent, o.name, o.kind, o.start, Clock.now(), attrs)
    buf += s
    s
  }
  def all: Seq[Span] = buf.toSeq
}

/** Per-stage totals of the task metrics the per-layer report uses,
  * attributed to the span (call and phase) whose thread started the job. */
final class StageCollector extends SparkListener {
  val SpanKey = "perfbench.span"
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val sums = new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Double]]()
  val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val openJobs = new AtomicInteger()
  private val openStages = new AtomicInteger()

  // tasks, run, cpu, gc, schedDelay, shuffleW, shuffleR, spill, inBytes
  private val nSums = 9

  def idle: Boolean = openJobs.get() <= 0 && openStages.get() <= 0

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      .getOrElse("none")
    e.stageInfos.foreach(s => stageSpan.put(s.stageId, span))
    jobs.add(Map("job" -> e.jobId, "span" -> span, "start" -> e.time / 1e3))
    openJobs.incrementAndGet(): Unit
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    openJobs.decrementAndGet(): Unit

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    openStages.incrementAndGet(): Unit

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val i = e.taskInfo
    val a = sums.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new Array[Double](nSums))
    val gettingResult =
      if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
    val sched = math.max(0L, i.duration - m.executorRunTime -
      m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
    a.synchronized {
      a(0) += 1
      a(1) += m.executorRunTime / 1e3
      a(2) += m.executorCpuTime / 1e9
      a(3) += m.jvmGCTime / 1e3
      a(4) += sched / 1e3
      a(5) += m.shuffleWriteMetrics.bytesWritten
      a(6) += m.shuffleReadMetrics.totalBytesRead
      a(7) += m.diskBytesSpilled + m.memoryBytesSpilled
      a(8) += m.inputMetrics.bytesRead
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    val a = Option(sums.remove((s.stageId, s.attemptNumber()))).getOrElse(new Array[Double](nSums))
    stages.add(Map(
      "stage" -> s.stageId, "attempt" -> s.attemptNumber(),
      "span" -> Option(stageSpan.get(s.stageId)).getOrElse("none"),
      "num_tasks" -> s.numTasks,
      "submit" -> s.submissionTime.map(_ / 1e3).getOrElse(0.0),
      "complete" -> s.completionTime.map(_ / 1e3).getOrElse(0.0),
      "failed" -> s.failureReason.isDefined,
      "tasks" -> a(0), "run_s" -> a(1), "cpu_s" -> a(2), "gc_s" -> a(3),
      "sched_delay_s" -> a(4), "shuffle_write_b" -> a(5),
      "shuffle_read_b" -> a(6), "spill_b" -> a(7), "input_b" -> a(8)))
    openStages.decrementAndGet(): Unit
  }

  /** Drain everything recorded so far. */
  def take(): (Seq[Map[String, Any]], Seq[Map[String, Any]]) = {
    val j = Iterator.continually(jobs.poll()).takeWhile(_ != null).toSeq
    val s = Iterator.continually(stages.poll()).takeWhile(_ != null).toSeq
    (j, s)
  }
}

/** Keeps every micro-batch progress report of the ingest stream. */
final class ProgressCollector extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[String]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress.json): Unit
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def all: Seq[String] = progress.asScala.toSeq
}
