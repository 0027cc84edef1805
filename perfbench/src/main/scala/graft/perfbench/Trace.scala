package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval on the epoch-nanosecond clock of [[Clock]].
  * `parent` is -1 for the root span of a run.
  */
final case class Span(id: Long, parent: Long, name: String, kind: String,
                      start: Long, end: Long)

object Clock {
  // epoch-anchored monotonic nanoseconds: call spans (nanoTime) and
  // Spark job spans (listener epoch millis) land on one time line
  private val offset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = System.nanoTime() + offset
  def fromEpochMs(ms: Long): Long = ms * 1000000L
}

/** In-memory span recorder; spans are written out once, after the run.
  * A call span publishes its id as a Spark local property, so every job
  * the call submits (on this thread or on threads it starts, such as a
  * streaming query's) is parented to it by [[EngineListener]].
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  import Tracer.SpanProperty
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def span[A](name: String, kind: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = open.get.headOption.getOrElse(-1L)
      val outer = sc.getLocalProperty(SpanProperty)
      open.set(id :: open.get)
      sc.setLocalProperty(SpanProperty, id.toString)
      val start = Clock.now()
      try body
      finally {
        done.add(Span(id, parent, name, kind, start, Clock.now()))
        open.set(open.get.tail)
        sc.setLocalProperty(SpanProperty, outer)
      }
    }

  /** A finished Spark job, parented to the call span that submitted it
    * (or to no span when the job ran outside any call). */
  def job(jobId: Int, parent: Long, start: Long, end: Long): Unit =
    if (enabled) done.add(Span(ids.incrementAndGet(), parent, s"job $jobId", "job", start, end))

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.start)
}

object Tracer {
  val SpanProperty = "perfbench.span"
}

/** Spark engine counters over the whole run, from the public listener
  * buses: a SparkListener for jobs, stages and task metrics, and a
  * QueryExecutionListener for the planning phases of each query.
  */
final class EngineListener(tracer: Tracer) extends SparkListener with QueryExecutionListener {
  val jobs, stages, tasks, taskFailures = new AtomicLong()
  val runMs, cpuNs, gcMs, schedWaitMs = new AtomicLong()
  val shuffleWriteB, shuffleReadB, spillB, inputB, outputB = new AtomicLong()
  val planningMs = new DoubleAdder()
  private val stageSubmitted = new ConcurrentHashMap[(Int, Int), Long]()
  private val jobStart = new ConcurrentHashMap[Int, (Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toLong).getOrElse(-1L)
    jobStart.put(e.jobId, (Clock.fromEpochMs(e.time), parent))
    ()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (start, parent) =>
      tracer.job(e.jobId, parent, start, Clock.fromEpochMs(e.time))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    stages.incrementAndGet()
    val info = e.stageInfo
    stageSubmitted.put((info.stageId, info.attemptNumber()),
      info.submissionTime.getOrElse(System.currentTimeMillis()))
    ()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    if (e.reason != org.apache.spark.Success) taskFailures.incrementAndGet()
    Option(stageSubmitted.get((e.stageId, e.stageAttemptId))).foreach { sub =>
      schedWaitMs.addAndGet(math.max(0L, e.taskInfo.launchTime - sub))
    }
    Option(e.taskMetrics).foreach { m =>
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleReadB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spillB.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      inputB.addAndGet(m.inputMetrics.bytesRead)
      outputB.addAndGet(m.outputMetrics.bytesWritten)
    }
    ()
  }

  private def planned(qe: QueryExecution): Unit =
    planningMs.add(qe.tracker.phases.values.map(_.durationMs.toDouble).sum)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planned(qe)

  /** Every counter, to difference the measured region out of the run. */
  def snapshot(): Map[String, Double] = Map[String, Double](
    "jobs" -> jobs.get.toDouble, "stages" -> stages.get.toDouble,
    "tasks" -> tasks.get.toDouble, "task_failures" -> taskFailures.get.toDouble,
    "task_run_ms" -> runMs.get.toDouble, "task_cpu_ns" -> cpuNs.get.toDouble,
    "gc_ms" -> gcMs.get.toDouble, "sched_wait_ms" -> schedWaitMs.get.toDouble,
    "shuffle_write_bytes" -> shuffleWriteB.get.toDouble,
    "shuffle_read_bytes" -> shuffleReadB.get.toDouble, "spill_bytes" -> spillB.get.toDouble,
    "input_bytes" -> inputB.get.toDouble, "output_bytes" -> outputB.get.toDouble,
    "planning_ms" -> planningMs.sum())
}

/** The state between a workload's phases: listener events handled and
  * the heap collected, so garbage and pending cleanup left by one phase is
  * not charged to the next. Records the heap in use after each such
  * collection: what the run retains (cached or checkpointed data, state),
  * not garbage awaiting collection.
  */
final class Quiesce(sc: SparkContext) {
  private var peak = 0L

  def apply(): Unit = {
    org.apache.spark.perfbench.ListenerDrain(sc)
    // collect until a collection frees less than a MiB: the ContextCleaner
    // releases broadcasts, shuffles and checkpoint blocks asynchronously,
    // in reaction to the collections before
    def collect(): Long = {
      System.gc()
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var used = collect()
    var freed = Long.MaxValue
    var rounds = 1
    while (freed > (1L << 20) && rounds < 10) {
      Thread.sleep(20)
      val now = collect()
      freed = used - now
      used = now
      rounds += 1
    }
    peak = math.max(peak, used)
  }

  def peakHeapBytes: Long = peak
}
