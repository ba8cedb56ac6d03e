package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Library entry point: GraftSession sessions arrive with the conf
  * profile applied and the SQL extensions live, sharing the test JVM's
  * SparkContext.
  */
class GraftSessionSpec extends AnyFunSuite {

  test("local() session carries the profile and the graft extensions") {
    TestSpark.spark // ensure the shared context exists first
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val s = GraftSession.local(2)
      assert(s.conf.get("spark.sql.adaptive.enabled") === "true")
      assert(s.conf.get("spark.sql.adaptive.skewJoin.enabled") === "true")
      assert(s.conf.get("spark.sql.shuffle.partitions") === "2")
      assert(s.conf.get("spark.sql.session.timeZone") === "UTC")
      // extensions registered at session build: native functions resolve
      val d = s.sql(
        "SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
        .head().getDouble(0)
      assert(d === 11.0)
    } finally {
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("TestSpark runs the shipped engine: every profile conf + graft_dot") {
    val s = TestSpark.spark
    GraftSession.profile.foreach { case (k, v) =>
      assert(s.conf.get(k) === v, k)
    }
    val d = s.sql(
      "SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .head().getDouble(0)
    assert(d === 11.0)
  }
}
