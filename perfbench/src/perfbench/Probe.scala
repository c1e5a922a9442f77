package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Order statistics for the reported timings. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile `p` (0 < p < 1), or None unless at least ten
    * samples lie beyond it: a tail percentile read off fewer samples is
    * one outlier away from a different number.
    */
  def percentile(xs: Seq[Double], p: Double): Option[Double] = {
    val n = xs.size
    val rank = math.ceil(p * n).toInt
    if (n == 0 || n - rank < 10) None else Some(xs.sorted.apply(math.max(rank, 1) - 1))
  }
}

/** Engine counters observed from outside: a `SparkListener` plus a
  * `QueryExecutionListener` registered by the benchmark. Counters are
  * cumulative; callers take [[snapshot]]s around a span and subtract.
  */
final class EngineProbe extends SparkListener with QueryExecutionListener {
  import EngineProbe._

  private val c = new Array[Double](Keys.size)
  private def add(k: Int, v: Double): Unit = c.synchronized { c(k) += v }

  private val stageSubmit = scala.collection.mutable.Map.empty[(Int, Int), Long]
  private val taskDur = scala.collection.mutable.Map.empty[(Int, Int), ArrayBuffer[Long]]
  /** Completed stages in completion order: (duration ms, task durations). */
  val stages: ArrayBuffer[(Long, Seq[Long])] = ArrayBuffer.empty

  override def onJobStart(e: SparkListenerJobStart): Unit = add(Jobs, 1)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = c.synchronized {
    val i = e.stageInfo
    stageSubmit((i.stageId, i.attemptNumber())) = i.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = c.synchronized {
    val i = e.stageInfo
    val key = (i.stageId, i.attemptNumber())
    c(Stages) += 1
    val dur = for (s <- i.submissionTime; f <- i.completionTime) yield f - s
    stages += ((dur.getOrElse(0L), taskDur.remove(key).map(_.toSeq).getOrElse(Nil)))
    stageSubmit.remove(key)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = c.synchronized {
    val ti = e.taskInfo
    c(Tasks) += 1
    if (ti.attemptNumber > 0) c(Retries) += 1
    stageSubmit.get((e.stageId, e.stageAttemptId)).foreach(s => c(WaitMs) += math.max(0L, ti.launchTime - s))
    taskDur.getOrElseUpdate((e.stageId, e.stageAttemptId), ArrayBuffer.empty) += ti.duration
    val m = e.taskMetrics
    if (m != null) {
      c(RunMs) += m.executorRunTime
      c(CpuNs) += m.executorCpuTime
      c(GcMs) += m.jvmGCTime
      c(ShuffleW) += m.shuffleWriteMetrics.bytesWritten
      c(ShuffleR) += m.shuffleReadMetrics.totalBytesRead
      c(Spill) += m.memoryBytesSpilled + m.diskBytesSpilled
      c(InRows) += m.inputMetrics.recordsRead
      c(InBytes) += m.inputMetrics.bytesRead
      c(OutRows) += m.outputMetrics.recordsWritten
      c(OutBytes) += m.outputMetrics.bytesWritten
    }
  }

  private def planned(qe: QueryExecution): Unit =
    add(PlanMs, qe.tracker.phases.values.map(_.durationMs).sum.toDouble)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = planned(qe)

  def snapshot(): Array[Double] = c.synchronized(c.clone())
  def stageCount: Int = c.synchronized(stages.size)
}

object EngineProbe {
  val Keys: Seq[String] = Seq("jobs", "stages", "tasks", "task_retries", "run_ms", "cpu_ns",
    "gc_ms", "wait_ms", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    "input_rows", "input_bytes", "output_rows", "output_bytes", "planning_ms")
  private def at(k: String): Int = Keys.indexOf(k)
  val Jobs = at("jobs"); val Stages = at("stages"); val Tasks = at("tasks")
  val Retries = at("task_retries"); val RunMs = at("run_ms"); val CpuNs = at("cpu_ns")
  val GcMs = at("gc_ms"); val WaitMs = at("wait_ms"); val ShuffleW = at("shuffle_write_bytes")
  val ShuffleR = at("shuffle_read_bytes"); val Spill = at("spill_bytes")
  val InRows = at("input_rows"); val InBytes = at("input_bytes")
  val OutRows = at("output_rows"); val OutBytes = at("output_bytes"); val PlanMs = at("planning_ms")

  def attach(spark: SparkSession, p: EngineProbe): Unit = {
    spark.sparkContext.addSparkListener(p)
    spark.listenerManager.register(p)
  }

  def detach(spark: SparkSession, p: EngineProbe): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(p)
    spark.listenerManager.unregister(p)
  }
}

/** One traced call into a layer. `counts` are the engine counters that
  * fell inside it (listener deltas, bus drained at both ends).
  */
final case class Span(id: Int, parent: Int, trace: Int, name: String,
                      startNs: Long, endNs: Long, counts: Map[String, Double],
                      stages: (Int, Int)) {
  def seconds: Double = (endNs - startNs) / 1e9
  def count(k: String): Double = counts.getOrElse(k, 0.0)
}

/** Span recorder. Spans stay in memory and are written once at the end.
  * A disabled tracer runs the body and records nothing.
  */
final class Tracer(spark: SparkSession, val probe: Option[EngineProbe]) {
  val spans: ArrayBuffer[Span] = ArrayBuffer.empty
  private var stack: List[Int] = Nil
  private var trace = 0
  private var lastId = 0

  def enabled: Boolean = probe.isDefined

  /** Start a new trace id (one per op). */
  def nextTrace(): Unit = trace += 1

  /** Drain the bus, then read the counters and the completed-stage index. */
  private def counters(): (Array[Double], Int) = {
    val p = probe.get
    PerfbenchBus.drain(spark.sparkContext)
    (p.snapshot(), p.stageCount)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      lastId += 1
      val id = lastId
      val parent = stack.headOption.getOrElse(-1)
      val c0 = counters()
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        val c1 = counters()
        val d = EngineProbe.Keys.indices.map(k => EngineProbe.Keys(k) -> (c1._1(k) - c0._1(k))).toMap
        spans += Span(id, parent, trace, name, t0, t1, d, (c0._2, c1._2))
      }
    }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Self time per span name: its duration minus the time its direct
    * children cover, summed over all spans of that name.
    */
  def selfSeconds: Map[String, Double] = {
    val childTime = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.seconds - childTime.getOrElse(s.id, 0.0)).sum
    }
  }
}

/** Peak old-generation occupancy after a full collection, inside ops.
  * [[during]] forces a full collection at the start and the end of every
  * Spark job of the ops it runs, so memory held across the jobs of an op
  * (cached blocks, join tables) shows. An op's peak is the largest of its
  * readings; the run reports the median op peak, because whether Spark's
  * context cleaner has yet released an earlier op's broadcasts at a given
  * collection is a matter of timing.
  */
object Memory {
  private lazy val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == MemoryType.HEAP && p.isCollectionUsageThresholdSupported)
    .filter(p => p.getName.contains("Old") || p.getName.contains("Tenured"))

  /** Run `op` `ops` times under the probe; returns each op's peak in MB.
    * Only for ops that are not timed.
    */
  def during(spark: SparkSession, ops: Int)(op: => Unit): Seq[Double] = {
    val peak = new java.util.concurrent.atomic.AtomicLong
    def gc(): Unit = {
      System.gc()
      peak.accumulateAndGet(oldGen.map(_.getCollectionUsage.getUsed).sum, math.max)
    }
    val atJobs = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = gc()
      override def onJobEnd(e: SparkListenerJobEnd): Unit = gc()
    }
    spark.sparkContext.addSparkListener(atJobs)
    try
      (1 to ops).map { _ =>
        peak.set(0)
        op
        PerfbenchBus.drain(spark.sparkContext)
        peak.get / (1024.0 * 1024.0)
      }
    finally spark.sparkContext.removeSparkListener(atJobs)
  }
}

/** CPU steal from /proc/stat around a window, printed beside the wall
  * times so a slow run can be told apart from a slow host.
  */
final class HostWindow {
  private def stat(): Array[Long] = scala.util.Try {
    val l = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
    l.trim.split("\\s+").drop(1).map(_.toLong)
  }.getOrElse(Array.empty[Long])
  private val s0 = stat()

  /** Steal share of all CPU time since creation, in %. */
  def stealPct(): Double = {
    val d = stat().zip(s0).map { case (a, b) => a - b }
    if (d.length > 7 && d.sum > 0) 100.0 * d(7) / d.sum else 0.0
  }
}

/** CPU time of the JVM's Java threads: the driver, Spark's task threads
  * and every other thread the program runs, but not the JIT compiler or
  * the garbage collector, whose background bursts and spin-waits vary
  * from run to run and with the hypervisor's CPU steal. Nanosecond
  * resolution. A [[Cpu.Mark]] holds each live thread's CPU time; a thread
  * that ends before the next reading drops out of both sides.
  */
object Cpu {
  private val threads = ManagementFactory.getThreadMXBean

  final class Mark private[Cpu] (private[Cpu] val byThread: Map[Long, Long])

  def mark(): Mark = new Mark(threads.getAllThreadIds.iterator
    .map(id => id -> threads.getThreadCpuTime(id)).filter(_._2 >= 0).toMap)

  def secondsSince(m: Mark): Double =
    threads.getAllThreadIds.iterator.map { id =>
      val now = threads.getThreadCpuTime(id)
      if (now < 0) 0L else now - m.byThread.getOrElse(id, 0L)
    }.sum / 1e9
}
