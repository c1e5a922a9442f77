package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Benchmark entry point (started by `perfbench/run.py`):
  *
  * {{{
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --root <checkout>
  * }}}
  *
  * Prints one line per metric (name, value, unit, sample count), then as
  * its LAST stdout line one JSON object: correct, attempted, failed and
  * metrics (the end-to-end set untraced, the per-layer set traced). Exits
  * 1 when an output check failed. A full report, and for traced runs the
  * spans, are written under `<root>/.bench_build/`.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String): String = a.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val ctx = Ctx(
      root = Paths.get(arg("root")).toAbsolutePath,
      workload = arg("workload"),
      seed = arg("seed").toLong,
      seconds = arg("seconds").toInt,
      trace = arg("trace") == "1",
      nproc = a.get("nproc").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()))
    val w = Workloads.byName(ctx.workload)
    evictInputs(ctx)
    Gen.deleteTree(ctx.work)

    val (out, tracer) =
      if (ctx.trace) { val (o, t) = Harness.traced(w, ctx); (o, Some(t)) }
      else (Harness.untraced(w, ctx), None)

    val host = hostFingerprint(ctx, a)
    val correct = out.failed == 0
    val json = Json.obj(
      "correct" -> correct,
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "metrics" -> Json.obj(out.metrics.map(m => m.name -> Json.obj("value" -> m.value, "unit" -> m.unit)): _*))

    val reports = ctx.build.resolve("reports")
    Files.createDirectories(reports)
    val tag = s"${ctx.workload}-s${ctx.seed}-trace${if (ctx.trace) 1 else 0}"
    Files.writeString(reports.resolve(s"$tag.json"), Json.obj(
      "host" -> host,
      "workload" -> ctx.workload,
      "metrics" -> out.metrics.map(m => Json.obj("name" -> m.name, "value" -> m.value,
        "unit" -> m.unit, "samples" -> m.samples)),
      "notes" -> Json.obj(out.notes.toSeq.sortBy(_._1).map { case (k, v) => k -> v }: _*),
      "attempted" -> out.attempted, "failed" -> out.failed, "failures" -> out.failures).json)
    tracer.foreach { t =>
      val spans = t.spans.map(s => Json.obj("id" -> s.id, "parent" -> s.parent, "trace" -> s.trace,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "counts" -> Json.obj(s.counts.toSeq.sortBy(_._1): _*)))
      Files.writeString(reports.resolve(s"$tag-spans.json"), Json.obj(
        "host" -> host, "workload" -> ctx.workload,
        "self_s" -> Json.obj(t.selfSeconds.toSeq.sortBy(_._1): _*),
        "spans" -> spans.toSeq).json)
    }

    println(s"# perfbench ${ctx.workload} seed=${ctx.seed} seconds=${ctx.seconds} trace=${if (ctx.trace) 1 else 0}")
    println(s"# host $host")
    println("# host-specific numbers: not comparable with the 32-vCPU BENCH_r01-r07 series")
    out.metrics.foreach { m =>
      val temp = if (m.name.startsWith("cold") || m.name == "wall.cold_s") "cold" else if (m.name == "setup_s") "set-up" else "warm"
      println(f"${m.name}%-34s ${m.value}%16.6f ${m.unit}%-7s n=${m.samples}%d $temp")
    }
    out.notes.toSeq.sortBy(_._1).foreach { case (k, v) => println(f"# $k%-32s $v") }
    out.failures.foreach(f => println(s"# FAILED check: $f"))
    println(s"# report: ${ctx.root.relativize(reports.resolve(s"$tag.json"))}")
    println(json)
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  /** Keep the two most recent other seeds' inputs per workload. */
  private def evictInputs(ctx: Ctx): Unit =
    if (Files.isDirectory(ctx.inputs)) {
      val mine = s"${ctx.workload}-s${ctx.seed}"
      val st = Files.list(ctx.inputs)
      val others = try st.iterator.asScala.toSeq finally st.close()
      others.filter(p => p.getFileName.toString.startsWith(s"${ctx.workload}-s") && p.getFileName.toString != mine)
        .sortBy(p => -Files.getLastModifiedTime(p).toMillis)
        .drop(2).foreach(Gen.deleteTree)
    }

  private def hostFingerprint(ctx: Ctx, a: Map[String, String]): Json.Raw = {
    val memKb = scala.util.Try(Files.readAllLines(Paths.get("/proc/meminfo")).asScala
      .find(_.startsWith("MemTotal:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)).getOrElse(0L)
    Json.obj(
      "nproc" -> ctx.nproc,
      "mem_total_mb" -> memKb / 1024,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "spark" -> org.apache.spark.SPARK_VERSION,
      "seed" -> ctx.seed,
      "seconds" -> ctx.seconds,
      "git" -> a.getOrElse("git", "unknown"),
      "source_sha256" -> a.getOrElse("source", "unknown"),
      "build" -> a.getOrElse("build", "unknown"),
      "master" -> s"local[${ctx.nproc}]")
  }
}

/** Minimal JSON rendering for the result line and reports. */
object Json {
  /** Already-rendered JSON. */
  final case class Raw(json: String) { override def toString: String = json }

  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}"))

  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }

  private def value(v: Any): String = v match {
    case r: Raw     => r.json
    case s: String  => str(s)
    case b: Boolean => b.toString
    case i: Int     => i.toString
    case l: Long    => l.toString
    case d: Double  => if (d.isNaN || d.isInfinite) "null" else d.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ", ", "]")
    case other      => str(other.toString)
  }
}
