package perfbench

import java.nio.file.Path
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftExtensions

/** Settings of one benchmark invocation. */
final case class Ctx(root: Path, workload: String, seed: Long, seconds: Int,
                     trace: Boolean, nproc: Int) {
  def build: Path = root.resolve(".bench_build")
  def inputs: Path = build.resolve("inputs")
  def work: Path = build.resolve("work").resolve(workload)
}

/** One timed op: wall seconds, Java-thread CPU seconds, input rows it
  * consumed, output check result.
  */
final case class Op(seconds: Double, cpuSeconds: Double, rows: Long, ok: Boolean)

/** Collects ops, named extra samples and failures. Every op and every
  * pass-level verification counts as attempted; a failed check or an
  * exception counts as failed and is never skipped.
  */
final class Recorder(val tracer: Tracer) {
  val ops: ArrayBuffer[Op] = ArrayBuffer.empty
  val samples: mutable.Map[String, ArrayBuffer[Double]] = mutable.Map.empty
  var attempted = 0L
  var failed = 0L
  val failures: ArrayBuffer[String] = ArrayBuffer.empty

  private def fail(what: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += what
  }

  /** Time one op; `body` runs it and returns whether its output checked. */
  def op(what: String, rows: Long)(body: => Boolean): Unit = {
    attempted += 1
    tracer.nextTrace()
    val t0 = System.nanoTime()
    val c0 = Cpu.mark()
    val ok =
      try tracer.span("op")(body)
      catch { case NonFatal(e) => System.err.println(s"[perfbench] $what: $e"); false }
    ops += Op((System.nanoTime() - t0) / 1e9, Cpu.secondsSince(c0), rows, ok)
    if (!ok) fail(what)
  }

  /** A pass-level output check (read-back, resume) outside op timing. */
  def verify(what: String)(body: => Boolean): Unit = {
    attempted += 1
    val ok =
      try body
      catch { case NonFatal(e) => System.err.println(s"[perfbench] $what: $e"); false }
    if (!ok) fail(what)
  }

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, ArrayBuffer.empty) += v
}

/** A workload: seeded inputs, a registration step that is part of set-up,
  * passes of timed ops with output checks, and (traced runs only) a
  * layer breakdown. Per-layer metrics it does not produce read 0.
  */
trait Workload {
  def name: String
  /** Build or reuse the cached inputs and derive the expected outputs. */
  def prepare(ctx: Ctx): Unit
  /** Input registration, timed as part of set-up. */
  def register(spark: SparkSession): Unit
  /** One pass of ops. */
  def pass(spark: SparkSession, rec: Recorder): Unit
  /** Traced run only: layer metrics, measured until `deadline` (nanoTime). */
  def layers(spark: SparkSession, rec: Recorder, deadline: Long): Map[String, Double]
  /** Warm ops after the cold one that are run and checked but not timed:
    * the JIT is still compiling the op's hot paths over these.
    */
  def warmupOps: Int
  /** Traced run only: metrics that need their own session (e.g. local[1]). */
  def afterTrace(ctx: Ctx, untracedRowsPerS: Double): Map[String, Double] = Map.empty
}

object Session {
  def build(cores: Int, ctx: Ctx): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$cores")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", ctx.build.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", ctx.build.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftExtensions.installRules(s)
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

/** A reported metric; a non-finite value (an empty ratio) reads 0. */
final case class Metric(name: String, raw: Double, unit: String, samples: Int) {
  val value: Double = if (raw.isNaN || raw.isInfinite) 0.0 else raw
}

final case class Outcome(metrics: Seq[Metric], attempted: Long, failed: Long,
                         failures: Seq[String], notes: Map[String, String])

object Harness {
  val SetupReps = 5
  val ProbeOps = 4
  val MinMeasuredOps = 5
  val MinTracedOps = 3
  /** The traced run's alternating and layer phases share at most this
    * many seconds of `--seconds`; its fixed phases (run layer, curation,
    * local[1]) already take most of its wall time.
    */
  val TracedSeconds = 10

  /** Start the Spark context once (a cold JVM pays this, reported as a
    * note), then run 1 + `SetupReps` set-ups on it: a new session, the
    * optimizer rules and the input registration. The first one loads and
    * compiles the set-up code and is not counted. Returns the last
    * session, the counted set-ups' wall times, their mean CPU seconds and
    * the context start time.
    */
  private def setup(w: Workload, ctx: Ctx): (SparkSession, Seq[Double], Double, Double) = {
    val t0 = System.nanoTime()
    val base = Session.build(ctx.nproc, ctx)
    val contextStart = Session.secondsSince(t0)
    def once(): SparkSession = {
      val s = base.newSession()
      GraftExtensions.installRules(s)
      w.register(s)
      s
    }
    var spark = once()
    val c0 = Cpu.mark()
    val times = (1 to SetupReps).map { _ =>
      val t = System.nanoTime()
      spark = once()
      Session.secondsSince(t)
    }
    (spark, times, Cpu.secondsSince(c0) / SetupReps, contextStart)
  }

  /** Run passes until `seconds` have passed and at least `minOps` ops
    * ran. Every workload's pass is one op.
    */
  private def passes(w: Workload, spark: SparkSession, rec: Recorder, seconds: Double,
                     minOps: Int): Unit = {
    val start = System.nanoTime()
    val target = rec.ops.size + minOps
    while ((System.nanoTime() - start < seconds * 1e9 || rec.ops.size < target) &&
           System.nanoTime() - start < (seconds + 60) * 1e9)
      w.pass(spark, rec)
  }

  private def phase(name: String, t0: Long): Unit =
    System.err.println(f"[perfbench] $name done at ${Session.secondsSince(t0)}%.2f s")

  def rowsPerS(ops: Seq[Op]): Double = Stats.median(ops.map(o => o.rows / o.seconds))

  /** Untraced run: set-up, the cold op, `warmupOps` untimed ops (the
    * first `ProbeOps` under the memory probe), then measured ops for
    * `--seconds`.
    *
    * Set-up, the cold op and the measured ops are reported in the CPU time
    * of the JVM's Java threads ([[Cpu]]): on a shared host the hypervisor's
    * CPU steal moves the wall times of whole runs by up to 1.7x and that
    * CPU time far less. Wall times are printed beside them, with the steal.
    */
  def untraced(w: Workload, ctx: Ctx): Outcome = {
    val t0 = System.nanoTime()
    w.prepare(ctx)
    phase("prepare", t0)
    val (spark, setupTimes, setupCpu, contextStart) = setup(w, ctx)
    phase("setup", t0)
    val rec = new Recorder(new Tracer(spark, None))
    w.pass(spark, rec)
    val memPeaks = Memory.during(spark, ProbeOps)(w.pass(spark, rec))
    (ProbeOps until w.warmupOps).foreach(_ => w.pass(spark, rec))
    val from = rec.ops.size
    val window = new HostWindow
    passes(w, spark, rec, ctx.seconds, MinMeasuredOps)
    val stealPct = window.stealPct()
    val ws = rec.ops.slice(from, rec.ops.size).toSeq
    phase("passes", t0)
    Session.stop(spark)
    phase("stop", t0)
    val extras = rec.samples.toSeq.sortBy(_._1).map { case (k, v) =>
      k -> f"median ${Stats.median(v.toSeq)}%.4f n=${v.size}"
    }
    val p75 = Stats.percentile(ws.map(_.seconds), 0.75)
      .map(v => f"$v%.4f n=${ws.size}").getOrElse(s"n/a (n=${ws.size}, needs 10 beyond)")
    def times(os: Seq[Op]): String = os.map(o => f"${o.seconds}%.3f").mkString(" ")
    def cpuTimes(os: Seq[Op]): String = os.map(o => f"${o.cpuSeconds}%.2f").mkString(" ")
    val cold = rec.ops.head
    Outcome(
      Seq(
        Metric("setup_s", setupCpu, "s", setupTimes.size),
        Metric("cold_cpu_s", cold.cpuSeconds, "s", 1),
        Metric("rows_per_cpu_s", Stats.median(ws.map(o => o.rows / o.cpuSeconds)), "rows/cpu_s", ws.size),
        Metric("mem_peak_mb", Stats.median(memPeaks), "MB", memPeaks.size)),
      rec.attempted, rec.failed, rec.failures.toSeq,
      Map("setup_s.wall" -> f"${Stats.median(setupTimes)}%.4f n=${setupTimes.size} wall",
        "cold_s" -> f"${cold.seconds}%.4f n=1 wall", "rows_per_s" -> f"${rowsPerS(ws)}%.1f n=${ws.size} wall",
        "mem_peak_mb.ops" -> memPeaks.map(m => f"$m%.1f").mkString(" "),
        "op_s.p50" -> f"${Stats.median(ws.map(_.seconds))}%.4f n=${ws.size} wall", "op_s.p75" -> p75,
        "context_start_s" -> f"$contextStart%.4f n=1 cold",
        "host.cpu_steal_pct" -> f"$stealPct%.1f (measured ops)",
        "op_cpu_s.p50" -> f"${Stats.median(ws.map(_.cpuSeconds))}%.3f n=${ws.size}",
        "op_s.warmup" -> times(rec.ops.slice(1, from).toSeq), "op_s.measured" -> times(ws),
        "op_cpu_s.warmup" -> cpuTimes(rec.ops.slice(1, from).toSeq), "op_cpu_s.measured" -> cpuTimes(ws),
        "error_rate" -> f"${rec.failed.toDouble / math.max(1, rec.attempted)}%.4f") ++ extras)
  }

  /** Traced run: after the cold and warm-up ops, untraced and traced
    * passes alternate (listeners attached only for the traced ones) for
    * 60% of the time, giving the engine metrics and the tracing overhead;
    * the layer breakdown takes the rest.
    */
  def traced(w: Workload, ctx: Ctx): (Outcome, Tracer) = {
    w.prepare(ctx)
    val (spark, _, _, _) = setup(w, ctx)
    val plain = new Recorder(new Tracer(spark, None))
    w.pass(spark, plain)
    (1 to w.warmupOps).foreach(_ => w.pass(spark, plain))
    val seconds = math.min(ctx.seconds, TracedSeconds)
    val probe = new EngineProbe
    val tracer = new Tracer(spark, Some(probe))
    val rec = new Recorder(tracer)
    val end = System.nanoTime() + (seconds * 6e8).toLong
    def tracedPass(): Unit = {
      EngineProbe.attach(spark, probe)
      w.pass(spark, rec)
      EngineProbe.detach(spark, probe)
    }
    // alternate which side goes first, so JIT warm-up favours neither
    val window = new HostWindow
    var round = 0
    while (System.nanoTime() < end || rec.ops.size < MinTracedOps) {
      if (round % 2 == 0) { w.pass(spark, plain); tracedPass() }
      else { tracedPass(); w.pass(spark, plain) }
      round += 1
    }
    val stealPct = window.stealPct()
    EngineProbe.attach(spark, probe)
    val layerMetrics = w.layers(spark, rec, System.nanoTime() + (seconds * 4e8).toLong)
    EngineProbe.detach(spark, probe)
    Session.stop(spark)

    val rpsPlain = rowsPerS(plain.ops.drop(1 + w.warmupOps).toSeq)
    val rpsTraced = rowsPerS(rec.ops.toSeq)
    val after = w.afterTrace(ctx, rpsPlain)
    val engine = engineMetrics(tracer, probe, ctx.nproc)
    val all = PerLayer.defaults ++ engine ++ layerMetrics ++ after ++ Map(
      "wall.cold_s" -> plain.ops.head.seconds,
      "wall.rows_per_s" -> rpsPlain,
      "host.cpu_steal_pct" -> stealPct,
      "trace.overhead_ratio" -> (rpsPlain - rpsTraced) / rpsPlain,
      "trace.spans" -> tracer.spans.size.toDouble)
    val metrics = PerLayer.all.map { case (n, u) => Metric(n, all(n), u, rec.ops.size) }
    (Outcome(metrics, plain.attempted + rec.attempted, plain.failed + rec.failed,
      (plain.failures ++ rec.failures).toSeq,
      Map("rows_per_s.untraced" -> f"$rpsPlain%.1f", "rows_per_s.traced" -> f"$rpsTraced%.1f")),
      tracer)
  }

  /** Engine metrics per traced op, from the listener counts inside each
    * op's root span.
    */
  private def engineMetrics(tracer: Tracer, probe: EngineProbe, cores: Int): Map[String, Double] = {
    val ops = tracer.named("op")
    def perOp(k: String): Double = ops.map(_.count(k)).sum / ops.size
    val wall = ops.map(_.seconds).sum
    val tasks = ops.map(_.count("tasks")).sum
    val skews = ops.flatMap { s =>
      val in = probe.stages.slice(s.stages._1, s.stages._2)
      if (in.isEmpty) None
      else {
        val durs = in.maxBy(_._1)._2.map(_.toDouble)
        if (durs.isEmpty) None
        else {
          val med = Stats.median(durs)
          Some(if (med > 0) durs.max / med else 1.0)
        }
      }
    }
    Map(
      "engine.jobs" -> perOp("jobs"),
      "engine.stages" -> perOp("stages"),
      "engine.tasks" -> perOp("tasks"),
      "engine.task_retries" -> perOp("task_retries"),
      "engine.planning_s" -> perOp("planning_ms") / 1e3,
      "engine.executor_run_s" -> perOp("run_ms") / 1e3,
      "engine.executor_cpu_s" -> perOp("cpu_ns") / 1e9,
      "engine.gc_s" -> perOp("gc_ms") / 1e3,
      "engine.busy_ratio" -> ops.map(_.count("run_ms")).sum / 1e3 / (wall * cores),
      "engine.task_wait_s" -> (if (tasks > 0) ops.map(_.count("wait_ms")).sum / 1e3 / tasks else 0.0),
      "engine.shuffle_write_bytes" -> perOp("shuffle_write_bytes"),
      "engine.shuffle_read_bytes" -> perOp("shuffle_read_bytes"),
      "engine.spill_bytes" -> perOp("spill_bytes"),
      "engine.task_skew" -> (if (skews.isEmpty) 0.0 else Stats.median(skews)))
  }

  /** Median wall seconds of `body` over `reps` runs, each a traced span. */
  def timed(rec: Recorder, name: String, reps: Int)(body: => Unit): Double =
    Stats.median((1 to reps).map { _ =>
      val t0 = System.nanoTime(); rec.tracer.span(name)(body); Session.secondsSince(t0)
    })

  /** Repetitions that fit before `deadline` given one round's cost, at least 3. */
  def repsFor(deadline: Long, roundSeconds: Double): Int =
    math.max(3, math.min(9, ((deadline - System.nanoTime()) / 1e9 / math.max(roundSeconds, 1e-3)).toInt))
}

/** The per-layer metric list: the same names, units and order as
  * BENCHMARK.json's `per_layer`. A layer a workload does not exercise
  * reports 0.
  */
object PerLayer {
  val all: Seq[(String, String)] = Seq(
    "sources.scan_s" -> "s", "sources.rows_in" -> "count", "sources.bytes_in" -> "bytes",
    "parsers.parse_s" -> "s", "parsers.parse_ok_ratio" -> "ratio",
    "operators.grep_s" -> "s", "operators.grep_keep_ratio" -> "ratio",
    "enrich.join_s" -> "s", "enrich.hit_ratio" -> "ratio",
    "route.fanout_s" -> "s", "route.fanout_factor" -> "ratio",
    "run.write_commit_s" -> "s", "run.jobs_per_snapshot" -> "count",
    "run.ledger_pending_s" -> "s", "run.lineage_cells" -> "count",
    "run.resume_rewritten_ratio" -> "ratio", "run.snapshot_s.p50" -> "s", "run.resume_s" -> "s",
    "sinks.rows_written" -> "count", "sinks.bytes_written" -> "bytes", "sinks.files_written" -> "count",
    "conf.load_s" -> "s", "conf.filter_s" -> "s",
    "conf.output_s.file" -> "s", "conf.output_s.forward" -> "s",
    "conf.output_s.es" -> "s", "conf.output_s.counter" -> "s", "conf.jobs_per_output" -> "count",
    "operators.dedup.signature_s" -> "s", "operators.dedup.lsh_s" -> "s",
    "operators.dedup.verify_s" -> "s", "operators.dedup.candidate_pairs" -> "count",
    "operators.dedup.verified_ratio" -> "ratio", "operators.dedup.cc_s" -> "s",
    "operators.dedup.cc_jobs" -> "count",
    "engine.jobs" -> "count", "engine.stages" -> "count", "engine.tasks" -> "count",
    "engine.task_retries" -> "count", "engine.planning_s" -> "s",
    "engine.executor_run_s" -> "s", "engine.executor_cpu_s" -> "s", "engine.gc_s" -> "s",
    "engine.busy_ratio" -> "ratio", "engine.task_wait_s" -> "s",
    "engine.shuffle_write_bytes" -> "bytes", "engine.shuffle_read_bytes" -> "bytes",
    "engine.spill_bytes" -> "bytes", "engine.task_skew" -> "ratio", "engine.scaling_eff" -> "ratio",
    "wall.cold_s" -> "s", "wall.rows_per_s" -> "rows/s", "host.cpu_steal_pct" -> "%",
    "trace.overhead_ratio" -> "ratio", "trace.spans" -> "count")

  val defaults: Map[String, Double] = all.map(_._1 -> 0.0).toMap
}
