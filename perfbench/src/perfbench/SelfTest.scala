package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** The benchmark's own tests: `python3 perfbench/run.py --selftest`.
  * Each check prints ok/FAIL; the exit code is the number of failures.
  */
object SelfTest {
  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = scala.util.Try(cond).recover { case e => System.err.println(e); false }.get
    if (!ok) failures += 1
    println(s"${if (ok) "ok  " else "FAIL"} $name")
  }

  /** Fluent Bit glob: `*` matches any run, anchored both ends. */
  private def globMatch(tag: String, glob: String): Boolean =
    tag.matches(glob.split("\\*", -1).map(java.util.regex.Pattern.quote).mkString(".*"))

  private val Clf = """^host-\d+ - user\d+ \[[^\]]+\] "GET /p/\d+ HTTP/1\.1" (\d+) \d+$""".r

  def main(argv: Array[String]): Unit = {
    val root = Paths.get(argv.sliding(2).collectFirst { case Array("--root", r) => r }.getOrElse("."))
      .toAbsolutePath
    val tmp = root.resolve(".bench_build").resolve("selftest")
    Gen.deleteTree(tmp)
    Files.createDirectories(tmp)

    // -- the generator is deterministic for a given seed
    check("route rows repeat for one seed, differ across seeds") {
      val a = (0 until 500).map(i => Gen.routeRow(7, i))
      val b = (0 until 500).map(i => Gen.routeRow(7, i))
      val c = (0 until 500).map(i => Gen.routeRow(8, i))
      a.map(r => (r.docId, r.tokens.toSeq, r.source)) == b.map(r => (r.docId, r.tokens.toSeq, r.source)) &&
        a.map(_.docId) != c.map(_.docId)
    }
    check("route parquet files are byte-identical for one seed") {
      Gen.writeRouteFile(tmp.resolve("a.parquet"), 7, 0, 300)
      Gen.writeRouteFile(tmp.resolve("b.parquet"), 7, 0, 300)
      java.util.Arrays.equals(Files.readAllBytes(tmp.resolve("a.parquet")), Files.readAllBytes(tmp.resolve("b.parquet")))
    }
    check("log lines and corpus repeat for one seed") {
      (0 until 300).map(i => Gen.logLine(3, 1, i)) == (0 until 300).map(i => Gen.logLine(3, 1, i)) && {
        val x = Gen.corpus(5, 400, 30, 10, Seq(2, 3, 4))
        val y = Gen.corpus(5, 400, 30, 10, Seq(2, 3, 4))
        x.ids.sameElements(y.ids) && x.keepers.sameElements(y.keepers) &&
          x.tokens.map(_.toSeq).sameElements(y.tokens.map(_.toSeq))
      }
    }
    check("input cache rebuilds a directory whose marker is stale") {
      val d = tmp.resolve("cache")
      var writes = 0
      val w = (p: java.nio.file.Path) => { writes += 1; Files.writeString(p.resolve("x"), "1"); () }
      val hit1 = Gen.cached(d, "fp-1")(w)
      val hit2 = Gen.cached(d, "fp-1")(w)
      val hit3 = Gen.cached(d, "fp-2")(w)
      !hit1 && hit2 && !hit3 && writes == 2
    }

    // -- closed-form expectations match a brute-force count on a tiny table
    val n = 3000
    check("route expectations match a brute-force count") {
      val brute = Gen.RouteSinks.map { case (sink, glob) =>
        val rows = (0 until n).map(i => Gen.routeRow(11, i)).filter { r =>
          r.docId match {
            case Clf(code) => code.startsWith("5") && globMatch(r.source, glob)
            case _         => false
          }
        }
        sink -> Gen.SinkAgg(rows.size, rows.map(_.tokens.length.toLong).sum, rows.map(r => Gen.tokenHash40(r.tokens)).sum)
      }.toMap
      brute == Gen.routeExpect(11, 0, n) && brute("sink_all").rows > 0 && brute("sink_kube").rows > 0
    }
    check("conf expectations match a brute-force count") {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val lines = 800
      val kept = Gen.LogFiles.indices.map { f =>
        Gen.LogFiles(f) -> (0 until lines).count { i =>
          val t = Gen.logLine(13, f, i).text
          scala.util.Try(mapper.readTree(t)).toOption.exists(j =>
            j.has("log") && "(WARN|ERROR)".r.findFirstIn(j.get("log").asText).isDefined)
        }.toLong
      }
      val brute = Gen.ConfOutputs.zipWithIndex.map { case ((plugin, glob, _), idx) =>
        s"${plugin}_$idx" -> kept.collect { case (file, k) if globMatch(s"logs.tmp.$file.log", glob) => k }.sum
      }.toMap
      brute == Gen.confExpect(13, lines)
    }
    check("corpus keepers match a brute-force grouping") {
      val c = Gen.corpus(17, 2000, 30, 10, Seq(2, 3, 4, 5, 6))
      val groups = c.tokens.indices.groupBy(i => c.tokens(i).toSeq).values.toSeq
      val keepers = groups.flatMap(g => if (g.size > 1) Seq(g.map(c.ids(_)).min) else g.map(c.ids(_))).sorted
      val pairs = groups.map(g => g.size.toLong * (g.size - 1) / 2).sum
      keepers == c.keepers.toSeq && pairs == c.verifiedPairs && pairs > 0
    }

    // -- the percentile helper enforces ten samples beyond the percentile
    check("p75 needs 40 samples, p90 needs 100") {
      val xs = (1 to 40).map(_.toDouble)
      Stats.percentile(xs, 0.75).contains(30.0) &&
        Stats.percentile(xs.init, 0.75).isEmpty &&
        Stats.percentile((1 to 99).map(_.toDouble), 0.9).isEmpty &&
        Stats.percentile((1 to 100).map(_.toDouble), 0.9).contains(90.0) &&
        Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5
    }

    // -- BENCHMARK.json lists exactly the metrics the benchmark reports
    check("BENCHMARK.json names match the reported metrics") {
      implicit val fmts: Formats = DefaultFormats
      val j = JsonMethods.parse(Files.readString(root.resolve("BENCHMARK.json")))
      val e2e = (j \ "end_to_end").extract[Seq[Map[String, Any]]].map(m => m("name") -> m("unit"))
      val layer = (j \ "per_layer").extract[Seq[Map[String, Any]]].map(m => m("name") -> m("unit"))
      val wl = (j \ "workloads").extract[Seq[Map[String, Any]]].map(_("name"))
      e2e == Seq("setup_s" -> "s", "cold_cpu_s" -> "s", "rows_per_cpu_s" -> "rows/cpu_s",
        "mem_peak_mb" -> "MB") &&
        layer == PerLayer.all && wl == Workloads.all.map(_.name)
    }

    // -- the token hash is Spark's xxhash64, on the engine this repo runs
    val spark = Session.build(2, Ctx(root, "selftest", 0, 1, trace = false, 2))
    try {
      check("tokenHash40 equals Spark's xxhash64(tokens) >>> 24") {
        val df = spark.read.parquet(tmp.resolve("a.parquet").toString)
        val got = df.select(col("doc_id"), Workloads.hash40).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        (0 until 300).forall { i =>
          val r = Gen.routeRow(7, i)
          got(r.docId) == Gen.tokenHash40(r.tokens)
        }
      }
      check("the route pipeline on a tiny table matches the expectations") {
        val d = tmp.resolve("route")
        Files.createDirectories(d)
        Gen.writeRouteFile(d.resolve("p0.parquet"), 11, 0, n / 2)
        Gen.writeRouteFile(d.resolve("p1.parquet"), 11, n / 2, n - n / 2)
        val got = Workloads.sinkAggs(graft.run.Pipeline.transform(spark.read.parquet(d.toString),
          Workloads.routeSpec(spark)).groupBy(col("sink"))
          .agg(count(lit(1)), sum(col("n_tok").cast("long")), sum(Workloads.hash40)).collect().toSeq)
        Workloads.matches(got, Gen.routeExpect(11, 0, n))
      }
    } finally Session.stop(spark)

    Gen.deleteTree(tmp)
    println(if (failures == 0) "selftest: all ok" else s"selftest: $failures failed")
    sys.exit(failures)
  }
}
