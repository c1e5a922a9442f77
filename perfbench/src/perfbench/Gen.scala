package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.Locale
import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.{MessageType, MessageTypeParser}

/** Seeded input generator. Every value is a pure function of
  * (seed, stream, index), so the expected outputs below are computed from
  * the same formulas, never from engine code. Files are written with the
  * parquet library directly (no Spark), outside every timed region.
  */
object Gen {

  // ---- seeded randomness (splitmix64)

  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rnd(seed: Long, stream: Long, i: Long): Long =
    mix(mix(seed ^ (stream * 0x632BE59BD9B4E019L)) + i)

  def below(r: Long, n: Int): Int = java.lang.Long.remainderUnsigned(r, n.toLong).toInt

  /** Seeded Fisher–Yates permutation of 0 until n. */
  def permutation(seed: Long, stream: Long, n: Int): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) {
      val j = below(rnd(seed, stream, i), i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  /** Spark's `xxhash64` of an `array<int>` (seed 42, elements folded in
    * order), shifted to its top 40 bits so a per-sink sum cannot overflow.
    */
  def tokenHash40(tokens: Array[Int]): Long = {
    var h = 42L
    var i = 0
    while (i < tokens.length) { h = Xxh64.hashInt(tokens(i), h); i += 1 }
    h >>> 24
  }

  // ---- route workloads: BASELINE shape (doc_id, tokens, n_tok, source)

  val Vocab = 50257
  val MaxTok = 64
  val BaseEpoch = 1500322623L
  val Codes: Array[Int] = Array(200, 200, 200, 404, 500, 503)
  val MalformedPct = 2
  val KubePods = 15      // pods web-0 … web-14 appear in kube tags
  val DimPods = 10       // the enrich dimension knows web-0 … web-9

  /** Route sinks: (name, match glob), overlapping like Fluent Bit fan-out. */
  val RouteSinks: Seq[(String, String)] = Seq(
    "sink_app" -> "app.*", "sink_db" -> "db.*",
    "sink_kube" -> "var.log.containers.*", "sink_all" -> "*")

  /** `sinks` indexes [[RouteSinks]]; `kept` = parses and passes grep. */
  final case class RouteRow(docId: String, tokens: Array[Int], source: String,
                            sinks: Seq[Int], kept: Boolean)

  private val clf = DateTimeFormatter.ofPattern("dd/MMM/yyyy:HH:mm:ss", Locale.ENGLISH)
    .withZone(ZoneOffset.UTC)

  def routeRow(seed: Long, i: Long): RouteRow = {
    val r = rnd(seed, 1, i)
    val nTok = 1 + below(r, MaxTok)
    val tokens = Array.tabulate(nTok)(j => below(rnd(seed, 2, i * MaxTok + j), Vocab))
    val code = Codes(below(r >>> 7, Codes.length))
    val malformed = below(r >>> 13, 100) < MalformedPct
    val t = below(r >>> 20, 100)
    val pod = below(r >>> 27, KubePods)
    val (source, cat) =
      if (t < 55) ("app.frontend", 0)
      else if (t < 80) ("app.backend", 0)
      else if (t < 92) ("db.primary", 1)
      else if (t < 97) {
        val hex = (1 to 4).map(k => f"${mix(r + k)}%016x").mkString
        (s"var.log.containers.web-${pod}_default_nginx-$hex.log", 2)
      } else ("sys.kern", 3)
    val line =
      if (malformed) s"malformed request $i without fields"
      else {
        val ts = clf.format(Instant.ofEpochSecond(BaseEpoch + below(r >>> 40, 3600)))
        s"""host-${below(r >>> 33, 997)} - user${below(r >>> 50, 31)} [$ts +0000] "GET /p/$i HTTP/1.1" $code ${below(r >>> 45, 9973)}"""
      }
    val sinks = (if (cat < 3) Seq(cat) else Nil) :+ 3
    RouteRow(line, tokens, source, sinks, kept = !malformed && code >= 500)
  }

  /** Expected per-sink (rows, sum n_tok, sum tokenHash40) after
    * parse → grep(code ^5) → enrich → fan-out, for rows [from, until).
    */
  final case class SinkAgg(rows: Long, nTok: Long, hash: Long) {
    def +(o: SinkAgg): SinkAgg = SinkAgg(rows + o.rows, nTok + o.nTok, hash + o.hash)
  }
  val Zero: SinkAgg = SinkAgg(0, 0, 0)

  /** [[routeExpect]] for `files` files of `rows` rows each, in parallel. */
  def routeExpectFiles(seed: Long, files: Int, rows: Int, threads: Int): Seq[Map[String, SinkAgg]] = {
    val out = new Array[Map[String, SinkAgg]](files)
    parallel(threads)((0 until files).map(f => () =>
      out(f) = routeExpect(seed, f.toLong * rows, (f + 1).toLong * rows)))
    out.toSeq
  }

  def routeExpect(seed: Long, from: Long, until: Long): Map[String, SinkAgg] = {
    val acc = Array.fill(RouteSinks.size)(Array(0L, 0L, 0L))
    var i = from
    while (i < until) {
      val row = routeRow(seed, i)
      if (row.kept) {
        val h = tokenHash40(row.tokens)
        row.sinks.foreach { s =>
          acc(s)(0) += 1; acc(s)(1) += row.tokens.length; acc(s)(2) += h
        }
      }
      i += 1
    }
    RouteSinks.map(_._1).zip(acc.map(a => SinkAgg(a(0), a(1), a(2)))).toMap
  }

  private val routeSchema: MessageType = MessageTypeParser.parseMessageType(
    """message row {
      |  required binary doc_id (UTF8);
      |  required group tokens (LIST) { repeated group list { required int32 element; } }
      |  required int32 n_tok;
      |  required binary source (UTF8);
      |}""".stripMargin)

  private val corpusSchema: MessageType = MessageTypeParser.parseMessageType(
    """message doc {
      |  required int64 id;
      |  required group tokens (LIST) { repeated group list { required int32 element; } }
      |}""".stripMargin)

  private def writeParquet(file: Path, schema: MessageType, n: Int)(fill: (Int, Group) => Unit): Unit = {
    val w = ExampleParquetWriter.builder(new HPath(file.toUri))
      .withType(schema)
      .withConf(new Configuration())
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()
    val f = new SimpleGroupFactory(schema)
    try (0 until n).foreach { k => val g = f.newGroup(); fill(k, g); w.write(g) }
    finally w.close()
  }

  private def addTokens(g: Group, tokens: Array[Int]): Unit = {
    val tg = g.addGroup("tokens")
    tokens.foreach(t => tg.addGroup("list").append("element", t))
  }

  /** Write rows [from, from + n) and return their expected sink aggregates. */
  def writeRouteFile(file: Path, seed: Long, from: Long, n: Int): Map[String, SinkAgg] = {
    val acc = Array.fill(RouteSinks.size)(Zero)
    writeParquet(file, routeSchema, n) { (k, g) =>
      val row = routeRow(seed, from + k)
      g.append("doc_id", row.docId)
      addTokens(g, row.tokens)
      g.append("n_tok", row.tokens.length).append("source", row.source)
      if (row.kept) {
        val a = SinkAgg(1, row.tokens.length, tokenHash40(row.tokens))
        row.sinks.foreach(s => acc(s) = acc(s) + a)
      }
    }
    RouteSinks.map(_._1).zip(acc).toMap
  }

  /** Write `files` route files of `rows` rows each in parallel; returns the
    * expected sink aggregates per file.
    */
  def writeRouteFiles(dir: Path, seed: Long, files: Int, rows: Int, threads: Int): Seq[Map[String, SinkAgg]] = {
    val out = new Array[Map[String, SinkAgg]](files)
    parallel(threads)((0 until files).map(f => () =>
      out(f) = writeRouteFile(dir.resolve(f"part-$f%03d.parquet"), seed, f.toLong * rows, rows)))
    out.toSeq
  }

  def sumAggs(xs: Seq[Map[String, SinkAgg]]): Map[String, SinkAgg] =
    xs.reduce((a, b) => a.map { case (s, v) => s -> (v + b(s)) })

  // ---- conf_outputs: docker-json log lines under tail

  val Levels: Array[String] = Array("INFO", "INFO", "INFO", "INFO", "INFO",
    "DEBUG", "DEBUG", "WARN", "WARN", "ERROR")
  /** Log files: name → category; the conf's Match globs select on these. */
  val LogFiles: Seq[String] =
    Seq("web-0", "web-1", "web-2", "web-3", "db-0", "db-1", "kube-0", "kube-1")

  final case class LogLine(text: String, kept: Boolean)

  def logLine(seed: Long, file: Int, i: Long): LogLine = {
    val r = rnd(seed, 10 + file, i)
    if (below(r, 100) < MalformedPct)
      LogLine(s"malformed line $i {not json", kept = false)
    else {
      val lvl = Levels(below(r >>> 8, Levels.length))
      val ms = below(r >>> 20, 1000)
      val stream = if (below(r >>> 30, 2) == 0) "stdout" else "stderr"
      val ts = Instant.ofEpochSecond(BaseEpoch + below(r >>> 35, 3600)).toString.stripSuffix("Z")
      LogLine(
        s"""{"log":"$lvl req=$i user=u${below(r >>> 40, 97)} took=${ms}ms","stream":"$stream","time":"$ts.${"%03d".format(ms)}Z"}""",
        kept = lvl == "WARN" || lvl == "ERROR")
    }
  }

  /** The conf's outputs: (plugin, Match glob, file predicate). */
  val ConfOutputs: Seq[(String, String, String => Boolean)] = Seq(
    ("file", "*.web-*", _.startsWith("web-")),
    ("forward", "*.db-*", _.startsWith("db-")),
    ("es", "*", _ => true),
    ("counter", "*-1.log", _.endsWith("-1")))

  def confExpect(seed: Long, linesPerFile: Int): Map[String, Long] = {
    val keptPerFile = LogFiles.indices.map { f =>
      LogFiles(f) -> (0L until linesPerFile).count(i => logLine(seed, f, i).kept).toLong
    }
    ConfOutputs.zipWithIndex.map { case ((plugin, _, sel), idx) =>
      s"${plugin}_$idx" -> keptPerFile.collect { case (n, k) if sel(n) => k }.sum
    }.toMap
  }

  def writeLogFile(file: Path, seed: Long, f: Int, n: Int): Unit = {
    val sb = new java.lang.StringBuilder
    (0 until n).foreach(i => sb.append(logLine(seed, f, i).text).append('\n'))
    Files.write(file, sb.toString.getBytes(StandardCharsets.UTF_8))
  }

  // ---- near-dup curation: corpus with planted exact-duplicate clusters

  final case class Corpus(ids: Array[Long], tokens: Array[Array[Int]],
                          keepers: Array[Long], verifiedPairs: Long)

  /** `docs` documents. A `clusterPct` share sits in clusters of sizes
    * cycling through `clusterSizes` (members token-identical); a
    * `nearPct` share are near-duplicates of a cluster (one token changed:
    * LSH candidates that fail verification); the rest are unique. Ids are
    * a seeded permutation, so cluster minima are scattered.
    */
  def corpus(seed: Long, docs: Int, clusterPct: Int, nearPct: Int,
             clusterSizes: Seq[Int]): Corpus = {
    val ids = permutation(seed, 20, docs).map(_.toLong)
    def fresh(k: Long): Array[Int] = {
      val r = rnd(seed, 21, k)
      val n = 16 + below(r, 49)
      Array.tabulate(n)(j => below(rnd(seed, 22, k * MaxTok + j), Vocab))
    }
    val tokens = new Array[Array[Int]](docs)
    val keepers = Array.newBuilder[Long]
    var pairs = 0L
    var pos = 0
    val clustered = docs.toLong * clusterPct / 100
    var c = 0
    val bases = Array.newBuilder[Int]
    while (pos < clustered) {
      val size = math.min(clusterSizes(c % clusterSizes.size), docs - pos)
      val base = fresh(pos)
      (pos until pos + size).foreach(d => tokens(d) = base)
      keepers += (pos until pos + size).map(ids(_)).min
      pairs += size.toLong * (size - 1) / 2
      bases += pos
      pos += size; c += 1
    }
    val baseIdx = bases.result()
    val near = docs.toLong * nearPct / 100
    var k = 0
    while (k < near && pos < docs) {
      val b = tokens(baseIdx(k % baseIdx.length))
      val t = b.clone()
      val p = (k / baseIdx.length) % t.length
      t(p) = (t(p) + 1 + below(rnd(seed, 23, k), Vocab - 1)) % Vocab
      tokens(pos) = t
      keepers += ids(pos)
      pos += 1; k += 1
    }
    while (pos < docs) { tokens(pos) = fresh(pos); keepers += ids(pos); pos += 1 }
    Corpus(ids, tokens, keepers.result().sorted, pairs)
  }

  def writeCorpusFile(file: Path, c: Corpus, from: Int, n: Int): Unit =
    writeParquet(file, corpusSchema, n) { (k, g) =>
      g.append("id", c.ids(from + k))
      addTokens(g, c.tokens(from + k))
    }

  // ---- input cache: one directory per (workload, seed) behind a marker

  /** Returns `dir`, (re)building it with `write` unless its marker holds
    * `fingerprint`. The marker is written last, so a half-written or stale
    * directory is always rebuilt, never timed. Returns whether it was hit.
    */
  def cached(dir: Path, fingerprint: String)(write: Path => Unit): Boolean = {
    val marker = dir.resolve("_READY")
    val hit = Files.exists(marker) && Files.readString(marker) == fingerprint
    if (!hit) {
      deleteTree(dir)
      Files.createDirectories(dir)
      write(dir)
      Files.writeString(marker, fingerprint)
    }
    hit
  }

  /** Run `jobs` on a small pool (file generation is embarrassingly parallel). */
  def parallel(threads: Int)(jobs: Seq[() => Unit]): Unit = {
    val pool = Executors.newFixedThreadPool(math.max(1, threads))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence(jobs.map(j => Future(j()))), Duration.Inf)
    finally pool.shutdown()
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally st.close()
    }

  def dirBytes(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val st = Files.walk(p)
      try {
        val fs = st.filter(f => Files.isRegularFile(f) && {
          val n = f.getFileName.toString; !n.startsWith(".") && !n.startsWith("_")
        }).toArray.map(_.asInstanceOf[Path])
        (fs.length.toLong, fs.map(Files.size).sum)
      } finally st.close()
    }

  def path(first: String, more: String*): Path = Paths.get(first, more: _*)
}

/** XXH64 of one int, bit-identical to Spark's `XXH64.hashInt`. */
object Xxh64 {
  private val P1 = 0x9E3779B185EBCA87L
  private val P2 = 0xC2B2AE3D27D4EB4FL
  private val P3 = 0x165667B19E3779F9L
  private val P5 = 0x27D4EB2F165667C5L

  def hashInt(input: Int, seed: Long): Long = {
    var h = seed + P5 + 4L
    h ^= (input & 0xFFFFFFFFL) * P1
    h = java.lang.Long.rotateLeft(h, 23) * P2 + P3
    h ^= h >>> 33; h *= P2
    h ^= h >>> 29; h *= P3
    h ^ (h >>> 32)
  }
}
