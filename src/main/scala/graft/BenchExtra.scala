package graft

import org.apache.spark.sql.functions._

/** Supplementary benchmark audits that must NOT live in the frozen
  * `graft.Bench` harness (round-7 rule: Bench.scala is hash-pinned).
  * Emits ONE JSON line quantifying the growth map's single super-linear
  * query, `dedup_embed_pairs`: its 10× runtime growth is OUTPUT-bound
  * (the synthetic blow-up duplicates every embedding 10×, so every SRP
  * bucket is 10× denser and the candidate-pair output grows
  * quadratically). This makes the audit machine-checkable per run
  * instead of a prose claim:
  *
  *   - `pairs_1x` / `pairs_10x` and their ratio (the OUTPUT growth);
  *   - per-run `runtime growth` from the main bench stays ~12× while the
  *     output grows ~100× ⇒ runtime is sub-linear in output size;
  *   - `srpBucketStats` truncation counts at the PRODUCTION cap
  *     (`Similarity.MaxBucket`, which also names the JSON keys):
  *     how many buckets the skew guard would clip on each input.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.BenchExtra"
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val scaledDir = s"target/bench_scaled_${new java.io.File(sfDir).getName}_x10"
    val spark = Bench.session(cpus)
    try {
      def pairsOut(dir: String): Long =
        SparkEntry.queries("dedup_embed_pairs")(spark, dir).count()
      val cap = graft.operators.Similarity.MaxBucket
      def bucketAudit(dir: String): (Long, Long, Long) = {
        val e = spark.read.parquet(s"$dir/embeddings.parquet")
        val st = graft.operators.Similarity
          .srpBucketStats(e, "embedding", planes = 8, maxBucket = cap)
          .agg(count(lit(1)), sum(when(col("truncated"), 1L).otherwise(0L)),
            max(col("n")))
          .collect()(0)
        (st.getLong(0), st.getLong(1), st.getLong(2))
      }
      val p1 = pairsOut(sfDir)
      val (b1, t1, m1) = bucketAudit(sfDir)
      val has10 = java.nio.file.Files.exists(
        java.nio.file.Paths.get(scaledDir, "_GRAFT_SCALED_OK"))
      val (p10, b10, t10, m10) =
        if (has10) {
          val p = pairsOut(scaledDir)
          val (b, t, m) = bucketAudit(scaledDir)
          (p, b, t, m)
        } else (-1L, -1L, -1L, -1L)
      val ratio = if (has10 && p1 > 0) p10.toDouble / p1 else -1.0
      println(
        s"""{"metric":"embed_pairs_audit","pairs_1x":$p1,"pairs_10x":$p10,""" +
          s""""embed_pairs_out_ratio":${math.round(ratio * 10) / 10.0},""" +
          s""""buckets_1x":$b1,"buckets_10x":$b10,""" +
          s""""truncated_at_cap${cap}_1x":$t1,"truncated_at_cap${cap}_10x":$t10,""" +
          s""""max_bucket_1x":$m1,"max_bucket_10x":$m10}""")
    } finally spark.stop()
  }
}
