package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole forked test JVM: the shipped
  * engine, `GraftSession.local()` with no overrides, so the suite runs
  * against the same profile and extensions the library provides.
  */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local()

  val sf0001 = "/root/testdata/sf0.001"
}
