package graft

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.enrich.Enrich
import graft.operators.{Dedup, Multiline, Similarity}
import graft.parsers.Parsers
import graft.route.SinkSpec
import graft.run.Pipeline
import graft.sources.{TailFixture, TokenTable}

/** The dev probe: measures a piece of the engine on [[Bench.session]], the
  * session the bench times, and prints one JSON line per measurement on
  * stdout with the [[QueryCensus]] counts (seconds, jobs/stages/tasks,
  * exchanges/joins/windows, the per-stage log). Not part of the driver
  * contract.
  *
  * {{{
  * runMain graft.Probe queries <name[,name…]|N> [sfDir] [--explain] [--recheck=K]
  * runMain graft.Probe prefixes [rows] [cores…]
  * runMain graft.Probe plan <star|neardup-verify|multiline> [sfDir]
  * runMain graft.Probe embed-audit [sfDir]
  * }}}
  *
  * `sfDir` defaults to `SPARK_GRAFT_SF_DIR`; the session's cores to
  * `SPARK_GRAFT_CPUS`, else the JVM's processor count.
  */
object Probe {
  def main(args: Array[String]): Unit = args.toList match {
    case "queries" :: rest => queries(rest)
    case "prefixes" :: rest => prefixes(rest)
    case "plan" :: round :: rest => plan(round, rest)
    case "embed-audit" :: rest => embedAudit(rest)
    case _ => sys.error("usage: graft.Probe <queries|prefixes|plan|embed-audit> … (see the Probe scaladoc)")
  }

  private def cpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)

  private def sfDir(args: Seq[String]): String = args.headOption
    .orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
    .getOrElse(sys.error("pass an sf table dir or set SPARK_GRAFT_SF_DIR"))

  private def withSession[T](cores: Int)(f: SparkSession => T): T = {
    val spark = Bench.session(cores)
    try f(spark) finally spark.stop()
  }

  /** Build and fully materialize `df` into the noop sink, counted. */
  private def written(spark: SparkSession)(df: => DataFrame): QueryCensus.Count =
    QueryCensus.measure(spark)(df.write.format("noop").mode("overwrite").save())._2

  private def emit(fields: (String, Any)*)(c: QueryCensus.Count): Unit =
    println(QueryCensus.json(ListMap(fields: _*) ++ c.fields))

  /** `SparkEntry.queries` entries, by name or the first N alphabetically,
    * three runs each (run 1 is cold). `--recheck=K` re-times the first K
    * once more after the whole sequence: a re-run slower than its own last
    * run means earlier queries' session residue (cached blocks, JIT queue,
    * GC pressure) taxes later ones.
    */
  private def queries(args: List[String]): Unit = {
    val (flags, pos) = args.partition(_.startsWith("--"))
    val recheck = flags.collectFirst { case s"--recheck=$k" => k.toInt }.getOrElse(0)
    val names = pos.headOption.getOrElse(sys.error("queries: name[,name…] or N")) match {
      case n if n.forall(_.isDigit) => SparkEntry.queries.keys.toSeq.sorted.take(n.toInt)
      case list => list.split(",").toSeq
    }
    val dir = sfDir(pos.drop(1))
    withSession(cpus) { spark =>
      TailFixture.ensure(spark, dir, useAlt = false)
      val last = names.map { name =>
        val fn = SparkEntry.queries(name)
        if (flags.contains("--explain"))
          System.err.println(fn(spark, dir).queryExecution.explainString(FormattedMode))
        val runs = (1 to 3).map { run =>
          val c = written(spark)(fn(spark, dir))
          emit("mode" -> "queries", "query" -> name, "run" -> run)(c)
          c.seconds
        }
        name -> runs.last
      }
      last.take(recheck).foreach { case (name, was) =>
        val c = written(spark)(SparkEntry.queries(name)(spark, dir))
        emit("mode" -> "queries", "query" -> name, "recheck" -> true, "was_s" -> was,
          "ratio" -> c.seconds / was)(c)
      }
    }
  }

  /** Cumulative prefixes of the headline pipeline (parse → grep → enrich →
    * fan-out → per-sink aggregate, the last being the bench's headline job)
    * and the scan and regex pieces they are built from, over the bench
    * input: one first pass, then the best of two more (of four with two
    * or more core levels). With two levels lo < hi, the hi line of each
    * prefix carries its scaling efficiency `eff` = t_lo / ((hi/lo)·t_hi).
    */
  private def prefixes(args: List[String]): Unit = {
    val rows = args.headOption.map(_.toLong).getOrElse(32000000L)
    val levels = Some(args.drop(1).map(_.toInt)).filter(_.nonEmpty).getOrElse(List(cpus))
    // a first pass right after ensureInput builds the input reads files the
    // writer left in page cache; only a pre-existing input can be cold, and
    // even that one may still be cached from a prior run
    val preexisted = Files.exists(Paths.get(s"target/bench_input_$rows", "_SUCCESS"))
    // with two or more levels every level runs twice, interleaved (lo, hi,
    // lo, hi): the first session's JIT warm-up and a passing host slowdown
    // would otherwise land on one level only and skew the efficiency
    val passes = (if (levels.size > 1) levels ++ levels else levels).map { cores =>
      cores -> withSession(cores) { spark =>
        headlinePrefixes(spark, Bench.ensureInput(spark, rows)).map { case (name, df) =>
          val first = written(spark)(df)
          (name, first, Seq.fill(2)(written(spark)(df)).minBy(_.seconds))
        }
      }
    }
    val runs = levels.distinct.map { cores =>
      val ps = passes.collect { case (`cores`, r) => r }
      cores -> ps.head.indices.map(i => (ps.head(i)._1, ps.head(i)._2, ps.map(_(i)._3).minBy(_.seconds)))
    }.toMap
    val (lo, hi) = (levels.min, levels.max)
    for (cores <- levels.distinct; ((name, first, c), i) <- runs(cores).zipWithIndex) {
      val eff = if (levels.distinct.size == 2 && cores == hi)
        Seq("eff" -> runs(lo)(i)._3.seconds / (hi.toDouble / lo * c.seconds)) else Nil
      emit(Seq("mode" -> "prefixes", "prefix" -> name, "cores" -> cores, "rows" -> rows,
        "input_preexisted" -> preexisted, "first_s" -> first.seconds) ++ eff: _*)(c)
    }
  }

  private def headlinePrefixes(spark: SparkSession, path: String): Seq[(String, DataFrame)] = {
    val in = spark.read.parquet(path)
    val dim = spark.range(0, 10)
      .select(concat(lit("web-"), col("id").cast("string"), lit("_default")).as("pod_key"),
        concat(lit("team-"), col("id").cast("string")).as("team"))
    val grep = Bench.benchSpec.copy(sinks = Seq(SinkSpec("all", "*")))
    val fanout = Pipeline.transform(in, Bench.benchSpec.copy(enrichDim = Some(dim)))
    Seq(
      "scan_ntok" -> in.select(col("n_tok")),
      "scan_doc" -> in.select(col("doc_id")),
      "scan_3col" -> in.select(col("doc_id"), col("source"), col("n_tok")),
      "scan_row" -> in,
      "kube" -> in.select(Enrich.kubeMeta(col("source")).as("m")),
      "parse" -> in.withColumn("p", Parsers.apache.parsed(col("doc_id"))),
      "grep" -> Pipeline.transform(in, grep).drop("sink"),
      "enrich" -> Pipeline.transform(in, grep.copy(enrichDim = Some(dim))).drop("sink"),
      "fanout" -> fanout,
      "full" -> fanout.groupBy(col("sink")).agg(count(lit(1)), sum(col("n_tok"))))
  }

  /** One iterative-operator round body, whose plan the final plan of its
    * query cannot show (by round time the edges are a checkpointed RDD
    * scan; curate_neardup's verify subplan is consumed eagerly by CC):
    * formatted plan on stderr, then one counted run.
    */
  private def plan(round: String, args: List[String]): Unit = withSession(cpus) { spark =>
    val d = spark.read.parquet(s"${sfDir(args)}/documents.parquet")
    val edges = d.filter(col("doc_id") % 5 =!= 4)
      .select(col("doc_id").as("u"), (col("doc_id") + 1).as("v"))
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
    val df = round match {
      case "star" => Dedup.starRound(edges)
      case "neardup-verify" =>
        val base = d.select(col("doc_id").as("id"),
          TokenTable.tokensFor(col("doc_id") - col("doc_id") % 2).as("tokens"))
        Dedup.lshCandidatePairs(base, "id", "tokens", numHashes = 8, rowsPerBand = 2)
          .join(base.select(col("id").as("id_a"), col("tokens").as("ta")), Seq("id_a"))
          .join(base.select(col("id").as("id_b"), col("tokens").as("tb")), Seq("id_b"))
          .filter(col("ta") === col("tb"))
          .select(col("id_a"), col("id_b"))
      case "multiline" =>
        val lines = d.select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("i0", "w")))
          .select(col("doc_id"), (col("i0") + 1).as("line_no"), col("w"))
        Multiline.assemble(lines, "doc_id", "line_no", "w", "^the$")
      case other => sys.error(s"unknown round: $other")
    }
    System.err.println(df.queryExecution.explainString(FormattedMode))
    emit("mode" -> "plan", "round" -> round)(written(spark)(df))
  }

  /** The output growth of `dedup_embed_pairs` at 1× and at Bench's 10×
    * tables (when built): the synthetic blow-up copies every embedding 10×,
    * so SRP buckets get 10× denser and candidate pairs grow quadratically
    * while runtime stays sub-linear in the output. Bucket counts and the
    * buckets the skew guard clips are taken at the production cap
    * [[Similarity.MaxBucket]], which also names the JSON keys.
    */
  private def embedAudit(args: List[String]): Unit = withSession(cpus) { spark =>
    val dir = sfDir(args)
    val scaledDir = s"target/bench_scaled_${new java.io.File(dir).getName}_x10"
    val cap = Similarity.MaxBucket
    // (pairs, buckets, truncated buckets, largest bucket)
    def audit(d: String): Seq[Long] = {
      val st = Similarity
        .srpBucketStats(spark.read.parquet(s"$d/embeddings.parquet"), "embedding", planes = 8, maxBucket = cap)
        .agg(count(lit(1)), sum(when(col("truncated"), 1L).otherwise(0L)), max(col("n"))).head()
      SparkEntry.queries("dedup_embed_pairs")(spark, d).count() +: (0 to 2).map(st.getLong)
    }
    val has10 = Files.exists(Paths.get(scaledDir, "_GRAFT_SCALED_OK"))
    val ((x1, x10), c) = QueryCensus.measure(spark) {
      (audit(dir), if (has10) audit(scaledDir) else Seq.fill(4)(-1L))
    }
    val ratio = if (has10 && x1.head > 0) x10.head.toDouble / x1.head else -1.0
    emit("metric" -> "embed_pairs_audit", "pairs_1x" -> x1(0), "pairs_10x" -> x10(0),
      "embed_pairs_out_ratio" -> math.round(ratio * 10) / 10.0,
      "buckets_1x" -> x1(1), "buckets_10x" -> x10(1),
      s"truncated_at_cap${cap}_1x" -> x1(2), s"truncated_at_cap${cap}_10x" -> x10(2),
      "max_bucket_1x" -> x1(3), "max_bucket_10x" -> x10(3))(c)
  }
}

/** What one measured region of a session cost: wall seconds, the Spark
  * jobs, stages and tasks it ran, and the physical shape (shuffle
  * exchanges, joins, windows) of every query that executed inside it.
  * Iterative operators are usually job-count-bound, so the counts sit
  * next to the time rather than behind it.
  */
object QueryCensus extends AdaptiveSparkPlanHelper {

  /** One completed stage: id, submit-to-complete ms, tasks, first name line. */
  final case class Stage(id: Int, ms: Long, tasks: Int, name: String)

  final case class Count(seconds: Double, jobs: Int, stages: Seq[Stage],
                         exchanges: Int, joins: Int, windows: Int) {
    def tasks: Int = stages.map(_.tasks).sum

    def fields: ListMap[String, Any] = ListMap(
      "seconds" -> seconds, "jobs" -> jobs, "stages" -> stages.size, "tasks" -> tasks,
      "exchanges" -> exchanges, "joins" -> joins, "windows" -> windows,
      "stage_log" -> stages.map(s =>
        ListMap("id" -> s.id, "ms" -> s.ms, "tasks" -> s.tasks, "name" -> s.name)))
  }

  private final class Recorder extends SparkListener with QueryExecutionListener {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = ArrayBuffer.empty[Stage]
    val plans = ArrayBuffer.empty[SparkPlan]

    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val ms = for (done <- i.completionTime; start <- i.submissionTime) yield done - start
      stages.synchronized {
        stages += Stage(i.stageId, ms.getOrElse(-1L), i.numTasks, i.name.takeWhile(_ != '\n').take(70))
      }
    }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      plans.synchronized { plans += qe.executedPlan }

    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Run `body` and count what it cost. The listener bus is drained before
    * the recorder attaches (earlier actions' events stay out) and before
    * it is read (a lagging bus would undercount).
    */
  def measure[T](spark: SparkSession)(body: => T): (T, Count) = {
    val sc = spark.sparkContext
    GraftShim.drainListenerBus(sc)
    val r = new Recorder
    sc.addSparkListener(r)
    spark.listenerManager.register(r)
    val t0 = System.nanoTime()
    val (out, seconds) =
      try { val o = body; (o, (System.nanoTime() - t0) / 1e9) }
      finally {
        GraftShim.drainListenerBus(sc)
        sc.removeSparkListener(r)
        spark.listenerManager.unregister(r)
      }
    val all = r.plans.flatMap(nodes)
    (out, Count(seconds, r.jobs.get, r.stages.toList,
      exchanges = all.count(_.isInstanceOf[ShuffleExchangeExec]),
      joins = all.count(_.isInstanceOf[BaseJoinExec]),
      windows = all.count(_.isInstanceOf[WindowExec])))
  }

  /** Every physical node of `plan`, descending into AQE plans, query
    * stages and subqueries.
    */
  def nodes(plan: SparkPlan): Seq[SparkPlan] = collectWithSubqueries(plan) { case p => p }

  /** One JSON value. Numbers print through `toString`, never a format
    * string: `f"%.3f"` follows the default locale and writes `1,5` under
    * comma-decimal locales, which breaks the line. Doubles keep three
    * decimals; a non-finite one is null.
    */
  def json(v: Any): String = v match {
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: String => quote(s)
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case d: Double => if (d.isNaN || d.isInfinite) "null" else (math.rint(d * 1000) / 1000).toString
    case other => other.toString
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => "\\u%04x".formatLocal(java.util.Locale.ROOT, c.toInt)
    case c => c.toString
  }.mkString("\"", "", "\"")
}
