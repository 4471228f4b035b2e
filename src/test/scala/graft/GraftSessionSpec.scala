package graft

import org.apache.spark.SparkConf
import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite {

  test("builder keeps a configured master (spark-submit --master) and pins local only without one") {
    val submitted = new SparkConf(false).set("spark.master", "yarn")
    assert(GraftSession.masterToSet(submitted, "local[4]").isEmpty)
    assert(GraftSession.masterToSet(new SparkConf(false), "local[4]").contains("local[4]"))
  }
}
