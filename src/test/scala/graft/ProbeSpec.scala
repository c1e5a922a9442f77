package graft

import java.util.Locale

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The probe's census on plans whose cost is known. */
class ProbeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def noopWrite(df: => org.apache.spark.sql.DataFrame): QueryCensus.Count =
    QueryCensus.measure(spark)(df.write.format("noop").mode("overwrite").save())._2

  test("census: a grouped noop write runs ≥ 1 job and ≥ 4 tasks through one shuffle, no join") {
    val c = noopWrite(spark.range(0, 1000, 1, 4).groupBy(col("id") % 10).count())
    assert(c.jobs >= 1, c)
    assert(c.tasks >= 4, c)
    assert(c.stages.nonEmpty && c.stages.forall(s => s.ms >= 0 && s.tasks > 0), c)
    assert(c.exchanges == 1, c)
    assert(c.joins == 0, c)
  }

  test("census: a broadcast join counts one join and no shuffle") {
    val c = noopWrite(spark.range(0, 100).join(broadcast(spark.range(0, 10)), "id"))
    assert(c.joins == 1, c)
    assert(c.exchanges == 0, c)
  }

  test("census line parses as JSON and prints '.' decimals under a comma-decimal locale") {
    val c = noopWrite(spark.range(0, 100, 1, 2).groupBy(col("id") % 3).count())
    val saved = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    val line =
      try QueryCensus.json(ListMap("query" -> "a \"quoted\"\tname", "ratio" -> 1.25) ++ c.fields)
      finally Locale.setDefault(saved)
    val tree = new ObjectMapper().readTree(line)
    assert(line.contains("\"ratio\":1.25"), line)
    assert(tree.get("query").asText == "a \"quoted\"\tname", line)
    assert(tree.get("seconds").asDouble == math.rint(c.seconds * 1000) / 1000, line)
    assert(tree.get("jobs").asInt == c.jobs && tree.get("tasks").asInt == c.tasks, line)
    assert(tree.get("stage_log").size == c.stages.size, line)
  }
}
