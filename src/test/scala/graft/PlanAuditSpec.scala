package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.expressions.aggregate.{Count, Partial}
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._

import graft.operators.Grep
import graft.route.SinkSpec
import graft.run.{Pipeline, PipelineSpec}
import graft.sources.TokenTable

/** Physical-plan invariants of the headline pipeline — the properties that
  * make it hold at 100 TB. Each one regressed at least once during
  * development; asserting on the physical plan keeps them pinned.
  */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def headlinePlan(withEnrich: Boolean): SparkPlan = {
    val t = TokenTable.synthetic(spark, 1000, 4)
    val dim = spark.range(0, 10).select(
      concat(lit("web-"), col("id").cast("string"), lit("_default")).as("pod_key"),
      col("id").as("team"))
    val spec = PipelineSpec(
      grep = Seq(Grep.Regex("code", "^5")),
      sinks = TokenTable.Sinks.map((SinkSpec.apply _).tupled),
      enrichDim = if (withEnrich) Some(dim) else None)
    val out = Pipeline.transform(t, spec)
      .groupBy(col("sink")).agg(count(lit(1)).as("cnt"), sum(col("n_tok")).as("s"))
    out.collect()
    out.queryExecution.executedPlan
  }

  /** The physical nodes of each plan section: under AQE the final plan and
    * the initial one (both print in the plan string), else the one plan.
    */
  private def sections(plan: SparkPlan): Seq[Seq[SparkPlan]] = plan match {
    case a: AdaptiveSparkPlanExec => Seq(QueryCensus.nodes(a), QueryCensus.nodes(a.initialPlan))
    case p => Seq(QueryCensus.nodes(p))
  }

  // a reused exchange prints as its original "Exchange hashpartitioning",
  // so it counts as the text match counted it
  private def hashShuffles(nodes: Seq[SparkPlan]): Int = nodes.count {
    case e: ShuffleExchangeExec => e.outputPartitioning.isInstanceOf[HashPartitioning]
    case ReusedExchangeExec(_, e: ShuffleExchangeExec) => e.outputPartitioning.isInstanceOf[HashPartitioning]
    case _ => false
  }

  test("headline pipeline: the fused apache parse evaluates ONCE per row") {
    val plan = headlinePlan(withEnrich = false).toString
    // filter pushdown substitutes the parse alias into every reference of
    // the grep predicate — a two-reference predicate doubles the parse
    val n = "regexparse".r.findAllIn(plan.toLowerCase).size
    // AQE prints final + initial plan sections → one occurrence each
    assert(n <= 2, s"apache regexparse appears $n times:\n$plan")
  }

  test("headline pipeline: broadcast enrich, partial agg before the single exchange") {
    val plan = headlinePlan(withEnrich = true)
    sections(plan).foreach { nodes =>
      assert(nodes.exists(_.isInstanceOf[BroadcastHashJoinExec]), s"enrich must be a broadcast join:\n$plan")
      assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]), s"no shuffle join on the fact side:\n$plan")
      val partialCount = nodes.exists {
        case h: HashAggregateExec => h.aggregateExpressions.exists(e =>
          e.mode == Partial && e.aggregateFunction.isInstanceOf[Count])
        case _ => false
      }
      assert(partialCount, s"map-side partial aggregation must ride the fan-out:\n$plan")
      // exactly one data exchange per plan section (the sink agg); the only
      // other exchange is the dim broadcast
      val shuffles = hashShuffles(nodes)
      assert(shuffles == 1, s"expected 1 shuffle, saw $shuffles in:\n$plan")
    }
  }

  test("fixture queries prune the documents scan to doc_id only") {
    val q = SparkEntry.queries("fb_parse_nginx")(spark, "/root/testdata/sf0.001")
    val scan = q.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(scan.contains("struct<doc_id:bigint>"), scan)
  }

  test("hashed span ops: every exchange keys on the 8-byte hash, never the gram string") {
    // the point of the hashed variants: at 100 TB the ~50-byte gram string
    // must not be a shuffle key (detection) or shuffled at all (removal)
    import spark.implicits._
    val d = Seq((1L, "a b c d e f g h i j"), (2L, "z a b c d e f g h k"))
      .toDF("doc_id", "text")
    for ((name, q) <- Seq(
      "detect" -> graft.operators.Dedup.crossDocRepeatedSpansHashed(d, "doc_id", "text", 8),
      "strip" -> graft.operators.Dedup.stripRepeatedSpansHashed(d, "doc_id", "text", 8))) {
      q.collect()
      val plan = q.queryExecution.executedPlan.toString
      val gramKeyed = "Exchange hashpartitioning\\(gram".r.findAllIn(plan).size
      assert(gramKeyed == 0, s"$name shuffles on the gram string:\n$plan")
      assert(plan.contains("hashpartitioning(_gh"), s"$name must shuffle on _gh:\n$plan")
    }
  }

  test("multiline assembly: ONE exchange — the record groupBy reuses the window's partitioning") {
    // groupBy(file, _rec) requires ClusteredDistribution(file, _rec), which
    // HashPartitioning(file) from the window pass already satisfies — a
    // second hash exchange on (file, rec) would double the shuffled volume
    // of the raw line stream at log scale (round-3 review item)
    val q = SparkEntry.queries("fb_multiline")(spark, "/root/testdata/sf0.001")
    q.collect()
    val plan = q.queryExecution.executedPlan
    sections(plan).foreach { nodes =>
      val shuffles = hashShuffles(nodes)
      assert(shuffles == 1, s"expected 1 shuffle, saw $shuffles in:\n$plan")
    }
  }

  test("q_anti_join plan flips broadcast→SMJ at the threshold — both shapes pinned") {
    // The round-5 growth outlier (23.3× cold, 8.7× warm): at 1× the orders
    // side broadcasts; at 10× it crosses autoBroadcastJoinThreshold and the
    // plan flips to a full-shuffle SMJ anti — the CORRECT plan at scale
    // (an anti join cannot be bloom-pre-reduced: the kept rows are the
    // non-matching ones, and a bloom "maybe present" can't drop them).
    // Pin both shapes so growth at the boundary is an asserted flip, not
    // a re-rolled surprise.
    val dir = "/root/testdata/sf0.001"
    def plan(): SparkPlan = {
      val q = SparkEntry.queries("q_anti_join")(spark, dir)
      q.collect()
      q.queryExecution.executedPlan
    }
    // 1× shape: orders fits the default 10 MB threshold → broadcast anti
    val small = plan()
    assert(sections(small).head.exists {
      case j: BroadcastHashJoinExec => j.joinType == LeftAnti
      case _ => false
    }, s"expected broadcast anti at 1×:\n$small")
    // over-threshold shape (10×+ orders side): force the flip the same way
    // a big build side does, and require the shuffle anti plan
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val big = plan()
      assert(sections(big).head.exists {
        case j: SortMergeJoinExec => j.joinType == LeftAnti
        case _ => false
      }, s"expected SMJ anti over the threshold:\n$big")
      assert(!sections(big).flatten.exists(_.isInstanceOf[BroadcastHashJoinExec]), big)
    }
  }

  private def withSQLConf(kvs: (String, String)*)(f: => Unit): Unit = {
    val conf = spark.conf
    val saved = kvs.map { case (k, _) => k -> conf.getOption(k) }
    kvs.foreach { case (k, v) => conf.set(k, v) }
    try f
    finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
