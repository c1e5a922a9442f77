package graft

import org.apache.spark.sql.functions._

/** Dev tool: print the formatted physical plan of ONE iterative-operator
  * round body (the loop internals that the final-label plan printed by
  * `QueryDebug dedup_cc <dir> explain` cannot show — by round time the
  * edges are a checkpointed RDD scan). Not part of the driver contract.
  *
  *   sbt "runMain graft.RoundPlan <star|neardup-verify|multiline> [sfDir]"
  */
object RoundPlan {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Bench.session(cpus)
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val edges = d.filter(col("doc_id") % 5 =!= 4)
      .select(col("doc_id").as("u"), (col("doc_id") + 1).as("v"))
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
    args.headOption.getOrElse("star") match {
      case "star" => graft.operators.Dedup.starRound(edges).explain("formatted")
      case "neardup-verify" =>
        // the curate_neardup candidate-verify subplan (invisible in the
        // final explain — CC consumes it eagerly before the query returns)
        val base = d.select(col("doc_id").as("id"),
          graft.sources.TokenTable.tokensFor(col("doc_id") - col("doc_id") % 2).as("tokens"))
        val cand = graft.operators.Dedup.lshCandidatePairs(
          base, "id", "tokens", numHashes = 8, rowsPerBand = 2)
        cand
          .join(base.select(col("id").as("id_a"), col("tokens").as("ta")), Seq("id_a"))
          .join(base.select(col("id").as("id_b"), col("tokens").as("tb")), Seq("id_b"))
          .filter(col("ta") === col("tb"))
          .select(col("id_a"), col("id_b"))
          .explain("formatted")
      case "multiline" =>
        val lines = d.select(col("doc_id"),
            posexplode(split(col("text"), " ")).as(Seq("i0", "w")))
          .select(col("doc_id"), (col("i0") + 1).as("line_no"), col("w"))
        graft.operators.Multiline.assemble(lines, "doc_id", "line_no", "w", "^the$")
          .explain("formatted")
      case other  => sys.error(s"unknown round: $other")
    }
    spark.stop()
  }
}
