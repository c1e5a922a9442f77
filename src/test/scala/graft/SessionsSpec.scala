package graft

import org.apache.spark.SparkConf
import org.scalatest.funsuite.AnyFunSuite

class SessionsSpec extends AnyFunSuite {
  test("the launch's spark.master wins; local[cpus] only when none was given") {
    val launched = new SparkConf(false).set("spark.master", "local[2]")
    assert(Sessions.defaultMaster(launched, "3").isEmpty)
    assert(Sessions.defaultMaster(new SparkConf(false), "3").contains("local[3]"))
  }
}
