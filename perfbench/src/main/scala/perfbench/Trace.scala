package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval: a layer call made by the benchmark, nested under
  * the op that caused it (`op` is shared by every span of one op). */
final case class Span(id: Long, name: String, start: Long, end: Long,
    parent: Long, op: Long)

/** In-memory span recorder. With `enabled = false`, [[span]] only runs
  * its body, so the untraced run pays no tracing cost. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicLong
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }

  /** Time `body` as a span named `name`; `op` starts a new op tree when
    * there is no enclosing span on this thread. */
  def span[A](name: String, op: Long = -1L)(body: => A): A =
    if (!enabled) body
    else {
      val outer = stack.get
      val id = ids.incrementAndGet()
      val (parent, opId) = outer.headOption.getOrElse((0L, op))
      stack.set((id, opId) :: outer)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, name, t0, System.nanoTime(), parent, opId))
        stack.set(outer)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq
}

object Tracer {

  /** Self time of every span: its duration minus the part of it that its
    * child spans cover (children are clipped to the parent, and
    * overlapping children are counted once). */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val byParent = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = byParent.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      s.id -> ((s.end - s.start) - Stats.unionLength(kids))
    }.toMap
  }

  /** Per span name: (calls, total ns, self ns). */
  def byName(spans: Seq[Span]): Map[String, (Int, Long, Long)] = {
    val self = selfTimes(spans)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> (ss.size, ss.map(s => s.end - s.start).sum, ss.map(s => self(s.id)).sum)
    }
  }
}

/** Spark-side counters for the traced run, read from listeners the
  * benchmark registers itself: a [[SparkListener]] (jobs, stages, task
  * metrics), a [[QueryExecutionListener]] (Catalyst phase times), the
  * codegen compile histogram and the JVM's GC and memory beans. Jobs are
  * attributed to ops through the `perfbench.op` local property that the
  * client thread sets before each op. */
final class SparkCounters(spark: SparkSession) {
  val jobs = new LongAdder; val stages = new LongAdder
  val tasks = new LongAdder; val taskFailures = new LongAdder
  val runMs = new LongAdder; val cpuNs = new LongAdder
  val bytesRead = new LongAdder; val recordsRead = new LongAdder
  val bytesWritten = new LongAdder; val recordsWritten = new LongAdder
  val shuffleWritten = new LongAdder; val shuffleRead = new LongAdder
  val fetchWaitMs = new LongAdder; val spill = new LongAdder
  val peakExec = new AtomicLong
  val analysisMs = new LongAdder; val optimizationMs = new LongAdder
  val planningMs = new LongAdder; val actions = new LongAdder
  /** op id -> job intervals (ms since epoch) */
  private val jobIntervals = mutable.HashMap.empty[Long, mutable.ArrayBuffer[(Long, Long)]]
  private val jobOp = mutable.HashMap.empty[Int, (Long, Long)]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.increment()
      val op = Option(e.properties).flatMap(p =>
        Option(p.getProperty(SparkCounters.OpProperty))).map(_.toLong)
      op.foreach(o => jobOp.synchronized { jobOp(e.jobId) = (o, e.time) })
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobOp.synchronized {
        jobOp.remove(e.jobId).foreach { case (o, t0) =>
          jobIntervals.getOrElseUpdate(o, mutable.ArrayBuffer.empty) += ((t0, e.time))
        }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.increment()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.increment()
      if (e.reason != Success) taskFailures.increment()
      val m = e.taskMetrics
      if (m != null) {
        runMs.add(m.executorRunTime); cpuNs.add(m.executorCpuTime)
        bytesRead.add(m.inputMetrics.bytesRead)
        recordsRead.add(m.inputMetrics.recordsRead)
        bytesWritten.add(m.outputMetrics.bytesWritten)
        recordsWritten.add(m.outputMetrics.recordsWritten)
        shuffleWritten.add(m.shuffleWriteMetrics.bytesWritten)
        shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
        fetchWaitMs.add(m.shuffleReadMetrics.fetchWaitTime)
        spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
        peakExec.accumulateAndGet(m.peakExecutionMemory, math.max)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      actions.increment()
      val ph = qe.tracker.phases
      ph.get("analysis").foreach(p => analysisMs.add(p.durationMs))
      ph.get("optimization").foreach(p => optimizationMs.add(p.durationMs))
      ph.get("planning").foreach(p => planningMs.add(p.durationMs))
    }
  }

  private val cg = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
  private var cg0 = 0L
  private def gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private var gc0 = (0L, 0L)
  private def gcNow = (gcBeans.map(_.getCollectionTime).sum,
    gcBeans.map(_.getCollectionCount).sum)
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  /** Start counting: registers the listeners and zeroes the baselines. */
  def start(): Unit = {
    drain()
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    cg0 = cg.getCount
    gc0 = gcNow
    heapPools.foreach(_.resetPeakUsage())
  }

  def drain(): Unit =
    org.apache.spark.GraftSparkShims.drainListenerBus(spark.sparkContext)

  def codegenCompiles: Long = cg.getCount - cg0
  /** The codegen histogram keeps a sample, not a sum: compile time is
    * estimated as compiles x the sampled mean. */
  def codegenMsEstimate: Double = codegenCompiles * cg.getSnapshot.getMean
  def gcMs: Long = gcNow._1 - gc0._1
  def gcCount: Long = gcNow._2 - gc0._2
  def heapPeakMb: Double =
    heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Union of the op's job intervals, in ms. */
  def jobMs(op: Long): Long = jobOp.synchronized {
    jobIntervals.get(op).map(iv => Stats.unionLength(iv.toSeq)).getOrElse(0L)
  }

  def stop(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}

object SparkCounters {
  val OpProperty = "perfbench.op"
}
