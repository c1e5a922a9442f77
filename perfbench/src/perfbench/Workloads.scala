package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.conf.ConfParser
import graft.enrich.Enrich
import graft.operators.{Dedup, Grep}
import graft.parsers.Parsers
import graft.route.{Router, SinkSpec}
import graft.run.{ConfPipeline, Pipeline, PipelineSpec, SinkCommit, Snapshot, SnapshotLedger}
import graft.sources.TailSource

object Workloads {
  val all: Seq[Workload] = Seq(new RouteAgg, new ConfOutputs)
  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(s"unknown workload '$n' (one of ${all.map(_.name).mkString(", ")})"))

  // ---- shared by the two route workloads

  val GrepRules: Seq[Grep.Rule] = Seq(Grep.Regex("code", "^5"))
  val Sinks: Seq[SinkSpec] = Gen.RouteSinks.map { case (n, g) => SinkSpec(n, g) }

  def dim(spark: SparkSession): DataFrame = {
    import spark.implicits._
    (0 until Gen.DimPods).map(k => (s"web-${k}_default", s"team-$k")).toDF("pod_key", "team")
  }

  def routeSpec(spark: SparkSession): PipelineSpec =
    PipelineSpec(grep = GrepRules, sinks = Sinks, enrichDim = Some(dim(spark)))

  /** Top 40 bits of Spark's xxhash64(tokens); see [[Gen.tokenHash40]]. */
  val hash40: Column = shiftrightunsigned(xxhash64(col("tokens")), 24)

  def sinkAggs(rows: Seq[Row]): Map[String, Gen.SinkAgg] =
    rows.map(r => r.getString(0) -> Gen.SinkAgg(r.getLong(1), r.getLong(2), r.getLong(3))).toMap

  def matches(got: Map[String, Gen.SinkAgg], want: Map[String, Gen.SinkAgg]): Boolean =
    want.keySet.forall(k => got.getOrElse(k, Gen.Zero) == want(k)) &&
      got.keySet.subsetOf(want.keySet)

  /** Cumulative layer prefixes: scan → parse → grep → enrich → fan-out. */
  def prefixes(in: DataFrame, spark: SparkSession): Seq[(String, DataFrame)] = {
    val scan = in.select("doc_id", "tokens", "n_tok", "source")
    val parsed = scan.withColumn("parsed", Parsers.apache.parsed(col("doc_id")))
    val kept = parsed.filter(grepKeep)
    val enriched = Enrich.kubernetes(kept, "source", dim(spark), applyExclude = false)
    val routed = Router.fanOut(enriched, "source", Sinks)
    Seq("sources" -> scan, "parsers" -> parsed, "operators.grep" -> kept,
      "enrich" -> enriched, "route" -> routed)
  }

  private def grepKeep: Column =
    Grep.keepPredicate(GrepRules, f => col("parsed").getField(f).cast("string"))

  /** Layer self times from the prefixes (each fully consumed by a noop
    * write; a layer's self time is its prefix minus the one before), plus
    * the layer ratios from one untimed aggregate at the same boundaries.
    */
  def routeLayers(in: DataFrame, spark: SparkSession, rec: Recorder, deadline: Long): Map[String, Double] = {
    val ps = prefixes(in, spark)
    val t0 = System.nanoTime()
    ps.foreach { case (n, df) => rec.tracer.span(s"prefix.$n")(Session.noop(df)) }
    val reps = Harness.repsFor(deadline, Session.secondsSince(t0))
    val times = ps.map { case (n, _) => n -> scala.collection.mutable.ArrayBuffer.empty[Double] }.toMap
    (1 to reps).foreach { _ =>
      ps.foreach { case (n, df) =>
        val s = System.nanoTime(); rec.tracer.span(s"prefix.$n")(Session.noop(df))
        times(n) += Session.secondsSince(s)
      }
    }
    val med = ps.map { case (n, _) => n -> Stats.median(times(n).toSeq) }.toMap
    val parsed = ps(1)._2
    val enrichedAll = Enrich.kubernetes(parsed, "source", dim(spark), applyExclude = false)
    val keep = grepKeep
    val c = enrichedAll.agg(
      count(lit(1)), count_if(col("parsed").isNotNull), count_if(keep),
      count_if(keep && col("kubernetes").isNotNull),
      count_if(keep && col("kubernetes.team").isNotNull),
      coalesce(sum(when(keep, size(Router.matchingSinks(col("source"), Sinks)))), lit(0L))
    ).collect()(0)
    val Seq(rows, ok, kept, kube, hit, routed) = (0 until 6).map(c.getLong)
    Map(
      "sources.scan_s" -> med("sources"),
      "sources.rows_in" -> rows.toDouble,
      "parsers.parse_s" -> (med("parsers") - med("sources")),
      "parsers.parse_ok_ratio" -> ok.toDouble / rows,
      "operators.grep_s" -> (med("operators.grep") - med("parsers")),
      "operators.grep_keep_ratio" -> kept.toDouble / rows,
      "enrich.join_s" -> (med("enrich") - med("operators.grep")),
      "enrich.hit_ratio" -> (if (kube > 0) hit.toDouble / kube else 0.0),
      "route.fanout_s" -> (med("route") - med("enrich")),
      "route.fanout_factor" -> routed.toDouble / kept)
  }
}

/** north-star job: the product's per-row kernels over one large table. */
final class RouteAgg extends Workload {
  import Workloads._
  val name = "route_agg"
  val Files = 16
  val RowsPerFile = 12500
  val warmupOps = 8
  def rows: Long = Files.toLong * RowsPerFile

  private var ctx: Ctx = _
  private var dir: Path = _
  private var perFile: Seq[Map[String, Gen.SinkAgg]] = _
  private var expect: Map[String, Gen.SinkAgg] = _
  private var input: DataFrame = _
  private var spec: PipelineSpec = _

  def prepare(c: Ctx): Unit = {
    ctx = c
    dir = ctx.inputs.resolve(s"$name-s${ctx.seed}")
    val hit = Gen.cached(dir, s"v1 $name seed=${ctx.seed} files=$Files rows=$RowsPerFile") { d =>
      perFile = Gen.writeRouteFiles(d, ctx.seed, Files, RowsPerFile, ctx.nproc)
    }
    if (hit) perFile = Gen.routeExpectFiles(ctx.seed, Files, RowsPerFile, ctx.nproc)
    expect = Gen.sumAggs(perFile)
  }

  def register(spark: SparkSession): Unit = {
    input = spark.read.parquet(dir.toString)
    spec = routeSpec(spark)
  }

  private def aggregate(): Map[String, Gen.SinkAgg] =
    sinkAggs(Pipeline.transform(input, spec)
      .groupBy(col("sink"))
      .agg(count(lit(1)), sum(col("n_tok").cast("long")), sum(hash40))
      .collect().toSeq)

  def pass(spark: SparkSession, rec: Recorder): Unit =
    rec.op("route_agg pass", rows)(matches(aggregate(), expect))

  def layers(spark: SparkSession, rec: Recorder, deadline: Long): Map[String, Double] = {
    val files = (0 until Files).map(f => dir.resolve(f"part-$f%03d.parquet"))
    routeLayers(input, spark, rec, deadline) ++ RunLayer.measure(spark, ctx, files, perFile, spec, rec) +
      ("sources.bytes_in" -> Gen.dirBytes(dir)._2.toDouble)
  }

  /** scaling_eff: rows/s at local[nproc] ÷ (nproc × rows/s at local[1]),
    * same input, both untraced.
    */
  override def afterTrace(ctx: Ctx, untracedRowsPerS: Double): Map[String, Double] = {
    val one = Session.build(1, ctx)
    try {
      register(one)
      val rec = new Recorder(new Tracer(one, None))
      (1 to 3).foreach(_ => pass(one, rec))
      val rps1 = Harness.rowsPerS(rec.ops.drop(1).toSeq)
      Map("engine.scaling_eff" -> untracedRowsPerS / (ctx.nproc * rps1))
    } finally Session.stop(one)
  }
}

/** The product path's run layer, measured inside route_agg's traced run:
  * the route_agg files registered as ledger snapshots of two files each,
  * one `Pipeline.runSnapshot` per snapshot (parquet per sink plus commit
  * markers), a read-back of the rows on disk, and a kill between write
  * and commit for one snapshot in four, resumed with `Pipeline.run`.
  */
object RunLayer {
  import Workloads._
  val FilesPerSnapshot = 2
  val ResumeShare = 4

  private def sameCommit(a: SinkCommit, b: SinkCommit): Boolean =
    a.copy(lineage = Nil) == b.copy(lineage = Nil) && a.lineage.toSet == b.lineage.toSet

  def measure(spark: SparkSession, ctx: Ctx, files: Seq[Path], perFile: Seq[Map[String, Gen.SinkAgg]],
              spec: PipelineSpec, rec: Recorder): Map[String, Double] = {
    val snaps = files.grouped(FilesPerSnapshot).zipWithIndex
      .map { case (fs, i) => Snapshot(i.toLong, fs.map(_.toString)) }.toSeq
    val expect = snaps.map(s => s.id -> Gen.sumAggs(
      perFile.slice(s.id.toInt * FilesPerSnapshot, (s.id.toInt + 1) * FilesPerSnapshot))).toMap
    val victims = Gen.permutation(ctx.seed, 30, snaps.size).take(snaps.size / ResumeShare).map(_.toLong).toSet
    val root = ctx.work.resolve("run-layer")
    Gen.deleteTree(root)
    val ledger = new SnapshotLedger(root.resolve("ledger").toString).init()
    snaps.foreach(ledger.writeSnapshot)
    val out = root.resolve("out").toString
    val names = Sinks.map(_.name)

    val t = System.nanoTime()
    val pending = rec.tracer.span("run.ledger_pending")(ledger.pending(names))
    val pendingS = Session.secondsSince(t)
    val runs = pending.map { snap =>
      val commits = rec.tracer.span("run.runSnapshot")(Pipeline.runSnapshot(spark, ledger, snap, spec, out))
      val span = rec.tracer.spans.last
      rec.verify(s"snapshot ${snap.id} commits")(commits.map(_.sink).toSet == names.toSet && commits.forall { c =>
        val e = expect(c.snapshotId).getOrElse(c.sink, Gen.Zero)
        c.rows == e.rows && c.sumNTok == e.nTok && c.lineage.map(_.rows).sum == c.rows
      })
      (snap, span, commits)
    }
    // committed ledger rows == rows on disk == closed form, incl. token hashes
    rec.verify("run-layer read-back") {
      val disk = spark.read.parquet(s"$out/data")
        .groupBy(col("snap").cast("long"), col("sink"))
        .agg(count(lit(1)), sum(col("n_tok").cast("long")), sum(hash40))
        .collect().map(r => (r.getLong(0), r.getString(1)) ->
          Gen.SinkAgg(r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      snaps.forall(s => names.forall { n =>
        val want = expect(s.id).getOrElse(n, Gen.Zero)
        disk.getOrElse((s.id, n), Gen.Zero) == want && ledger.readCommit(n, s.id).exists(_.rows == want.rows)
      })
    }
    val filesWritten = Gen.dirBytes(Gen.path(out))._1
    // a kill between write and commit: drop the markers, resume, compare
    val before = victims.toSeq.flatMap(id => names.flatMap(n => ledger.readCommit(n, id)))
    victims.foreach(id => names.foreach(n =>
      Files.deleteIfExists(Gen.path(ledger.root, "_commits", n, f"snap-$id%05d.json"))))
    val t0 = System.nanoTime()
    val redone = rec.tracer.span("run.resume")(Pipeline.run(spark, ledger, spec, out))
    val resumeS = Session.secondsSince(t0)
    val rewritten = redone.map(_.snapshotId).distinct.size
    rec.verify("run-layer resume") {
      redone.map(_.snapshotId).toSet == victims && before.size == redone.size &&
        before.forall(b => redone.exists(r => r.sink == b.sink && r.snapshotId == b.snapshotId && sameCommit(r, b)))
    }
    // write+commit = runSnapshot span minus the transform prefix on the same snapshot
    val writeCommit = runs.map { case (snap, span, _) =>
      val df = Pipeline.transform(spark.read.parquet(snap.files: _*), spec)
      val s0 = System.nanoTime()
      rec.tracer.span("prefix.transform")(Session.noop(df))
      span.seconds - Session.secondsSince(s0)
    }
    Gen.deleteTree(root)
    val spans = runs.map(_._2)
    def perSnap(k: String): Double = spans.map(_.count(k)).sum / spans.size
    Map(
      "run.write_commit_s" -> Stats.median(writeCommit),
      "run.jobs_per_snapshot" -> perSnap("jobs"),
      "run.ledger_pending_s" -> pendingS,
      "run.lineage_cells" -> runs.map(_._3.map(_.lineage.size).sum.toDouble).sum / runs.size,
      "run.resume_rewritten_ratio" -> rewritten.toDouble / victims.size,
      "run.snapshot_s.p50" -> Stats.median(spans.map(_.seconds)),
      "run.resume_s" -> resumeS,
      "sinks.rows_written" -> perSnap("output_rows"),
      "sinks.bytes_written" -> perSnap("output_bytes"),
      "sinks.files_written" -> filesWritten.toDouble / snaps.size)
  }
}

/** Classic `.conf` pipeline: tail → parser → grep → record_modifier →
  * modify, four outputs of different plugins with overlapping Match.
  */
final class ConfOutputs extends Workload {
  val name = "conf_outputs"
  val LinesPerFile = 3000
  def lines: Long = Gen.LogFiles.size.toLong * LinesPerFile

  private var ctx: Ctx = _
  private var dir: Path = _
  private var expect: Map[String, Long] = _
  private var spark: SparkSession = _
  private var out: Path = _
  private var conf: String = _
  val warmupOps = 5

  val ParsersText: String =
    """[PARSER]
      |    Name   docker_json
      |    Format json
      |""".stripMargin

  def confText(out: Path, outputs: Seq[String], filters: Int = 4): String = {
    val fs = Seq(
      """[FILTER]
        |    Name     parser
        |    Match    *
        |    Key_Name line
        |    Parser   docker_json
        |""",
      """[FILTER]
        |    Name  grep
        |    Match *
        |    Regex log (WARN|ERROR)
        |""",
      """[FILTER]
        |    Name   record_modifier
        |    Match  *
        |    Record bench perfbench
        |""",
      """[FILTER]
        |    Name   modify
        |    Match  *
        |    Rename stream source_stream
        |    Add    region eu-1
        |""").take(filters).map(_.stripMargin)
    val os = Gen.ConfOutputs.filter(o => outputs.contains(o._1)).map { case (plugin, glob, _) =>
      s"""[OUTPUT]
         |    Name  $plugin
         |    Match $glob
         |    Path  ${out.resolve(plugin)}
         |""".stripMargin
    }
    (s"""[INPUT]
        |    Name tail
        |    Path $dir/*.log
        |    Tag  logs.*
        |""".stripMargin +: (fs ++ os)).mkString("\n")
  }

  def prepare(c: Ctx): Unit = {
    ctx = c
    dir = ctx.inputs.resolve(s"$name-s${ctx.seed}")
    Gen.cached(dir, s"v1 $name seed=${ctx.seed} lines=$LinesPerFile") { d =>
      Gen.parallel(ctx.nproc)(Gen.LogFiles.indices.map(f => () =>
        Gen.writeLogFile(d.resolve(s"${Gen.LogFiles(f)}.log"), ctx.seed, f, LinesPerFile)))
    }
    expect = Gen.confExpect(ctx.seed, LinesPerFile)
  }

  /** Registration: the conf text, pointed at this run's input files,
    * parsed, and the tail input's file index built.
    */
  def register(s: SparkSession): Unit = {
    spark = s
    out = ctx.work.resolve("out")
    conf = confText(out, Gen.ConfOutputs.map(_._1))
    ConfParser.parse(conf)
    TailSource.lines(spark, s"$dir/*.log", "logs.*")
  }

  private def lineCount(p: Path): Long = {
    val st = Files.walk(p)
    try st.iterator.asScala.filter(f => Files.isRegularFile(f) && f.getFileName.toString.startsWith("part-"))
      .map(f => Files.lines(f).count()).sum
    finally st.close()
  }

  def pass(s: SparkSession, rec: Recorder): Unit = {
    Gen.deleteTree(out)
    var got = Map.empty[String, Long]
    rec.op("conf run", lines) {
      val loaded = rec.tracer.span("conf.load")(ConfPipeline.load(spark, conf, ParsersText))
      got = rec.tracer.span("conf.run")(ConfPipeline.run(loaded, out.toString)).toMap
      got == expect
    }
    rec.verify("conf read-back") {
      val fwd = spark.read.parquet(out.resolve("forward").toString)
        .agg(coalesce(sum(col("n_entries")), lit(0L))).collect()(0).getLong(0)
      lineCount(out.resolve("file")) == expect("file_0") &&
        fwd == expect("forward_1") &&
        lineCount(out.resolve("es")) == 2 * expect("es_2")
    }
    rec.sample("files_written", Gen.dirBytes(out)._1.toDouble)
  }

  def layers(s: SparkSession, rec: Recorder, deadline: Long): Map[String, Double] = {
    val plugins = Gen.ConfOutputs.map(_._1)
    def filterOnly(): Unit =
      Session.noop(ConfPipeline.load(spark, confText(out, Nil), ParsersText).filtered)
    def single(p: String): Unit =
      ConfPipeline.run(ConfPipeline.load(spark, confText(out, Seq(p)), ParsersText), out.toString)
    val t0 = System.nanoTime()
    filterOnly(); plugins.foreach(single)
    val reps = Harness.repsFor(deadline, Session.secondsSince(t0))
    val filterS = Harness.timed(rec, "prefix.conf.filter_only", reps)(filterOnly())
    val outS = plugins.map(p => p -> (Harness.timed(rec, s"prefix.conf.output.$p", reps)(single(p)) - filterS))
    val parsed = ConfPipeline.load(spark, confText(out, Nil, filters = 1), ParsersText).filtered
      .agg(count(lit(1)), count_if(col("parse_ok"))).collect()(0)
    val runs = rec.tracer.named("conf.run")
    val loads = rec.tracer.named("conf.load")
    val kept = expect("es_2").toDouble
    Map(
      "conf.load_s" -> Stats.median(loads.map(_.seconds)),
      "conf.filter_s" -> filterS,
      "conf.jobs_per_output" -> runs.map(_.count("jobs")).sum / runs.size / plugins.size,
      "sources.rows_in" -> parsed.getLong(0).toDouble,
      "sources.bytes_in" -> Gen.dirBytes(dir)._2.toDouble,
      "parsers.parse_ok_ratio" -> parsed.getLong(1).toDouble / parsed.getLong(0),
      "operators.grep_keep_ratio" -> kept / lines,
      "route.fanout_factor" -> expect.values.sum / kept,
      "sinks.rows_written" -> runs.map(_.count("output_rows")).sum / runs.size,
      "sinks.bytes_written" -> runs.map(_.count("output_bytes")).sum / runs.size,
      "sinks.files_written" -> rec.samples.get("files_written").map(v => Stats.median(v.toSeq)).getOrElse(0.0)
    ) ++ outS.map { case (p, v) => s"conf.output_s.$p" -> v } ++ DedupLayer.measure(spark, ctx, rec)
  }
}

/** Near-dup curation, measured inside conf_outputs' traced run (the
  * shorter traced run): MinHash-LSH candidates → token-equality verify →
  * connected components → keepers, over a seeded corpus with planted
  * duplicate clusters. Every curation pass checks its keepers; self
  * times come from prefixes consumed by noop writes.
  */
object DedupLayer {
  val Docs = 2500
  val Files = 4
  val ClusterPct = 30
  val NearPct = 10
  val ClusterSizes: Seq[Int] = Seq(2, 3, 4, 5, 6)
  val NumHashes = 16
  val RowsPerBand = 2
  val Passes = 3

  def measure(spark: SparkSession, ctx: Ctx, rec: Recorder): Map[String, Double] = {
    val dir = ctx.inputs.resolve(s"dedup-s${ctx.seed}")
    val corpus = Gen.corpus(ctx.seed, Docs, ClusterPct, NearPct, ClusterSizes)
    val per = Docs / Files
    Gen.cached(dir, s"v1 dedup seed=${ctx.seed} docs=$Docs files=$Files shape=$ClusterPct/$NearPct/${ClusterSizes.mkString(",")}") { d =>
      (0 until Files).foreach(f => Gen.writeCorpusFile(d.resolve(f"part-$f%03d.parquet"), corpus, f * per,
        if (f == Files - 1) Docs - f * per else per))
    }
    val base = spark.read.parquet(dir.toString)
    val cand = Dedup.lshCandidatePairs(base, "id", "tokens", NumHashes, RowsPerBand)
    val ver = cand
      .join(base.select(col("id").as("id_a"), col("tokens").as("ta")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("tokens").as("tb")), Seq("id_b"))
      .filter(col("ta") === col("tb"))
      .select(col("id_a"), col("id_b"))
    // the first pass is cold; the rest give the curation time
    (1 to Passes).foreach { _ =>
      rec.verify("curation keepers")(rec.tracer.span("dedup.pass") {
        val comp = Dedup.connectedComponents(ver, "id_a", "id_b")
        val keepers = comp.filter(col("id") === col("comp")).select(col("id"))
          .union(base.select(col("id")).join(comp.select(col("id")), Seq("id"), "left_anti"))
        keepers.collect().map(_.getLong(0)).sorted.sameElements(corpus.keepers)
      })
    }
    val sig = base.select(col("id"), Dedup.minhashSigArray(col("tokens"), NumHashes).as("sig"))
    val sigS = Harness.timed(rec, "prefix.dedup.signature", Passes)(Session.noop(sig))
    val lshS = Harness.timed(rec, "prefix.dedup.lsh", Passes)(Session.noop(cand))
    val verS = Harness.timed(rec, "prefix.dedup.verify", Passes)(Session.noop(ver))
    val nCand = cand.count()
    val nVer = ver.count()
    rec.verify("verified pairs")(nVer == corpus.verifiedPairs)
    val passes = rec.tracer.named("dedup.pass").drop(1)
    val verJobs = rec.tracer.named("prefix.dedup.verify").map(_.count("jobs"))
    Map(
      "operators.dedup.signature_s" -> sigS,
      "operators.dedup.lsh_s" -> (lshS - sigS),
      "operators.dedup.verify_s" -> (verS - lshS),
      "operators.dedup.candidate_pairs" -> nCand.toDouble,
      "operators.dedup.verified_ratio" -> nVer.toDouble / nCand,
      "operators.dedup.cc_s" -> (Stats.median(passes.map(_.seconds)) - verS),
      "operators.dedup.cc_jobs" -> (passes.map(_.count("jobs")).sum / passes.size - Stats.median(verJobs)))
  }
}
