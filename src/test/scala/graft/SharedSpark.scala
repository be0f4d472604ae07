package graft

import org.apache.spark.sql.SparkSession

/** The session every spec runs on: [[GraftSession]]'s configuration (the
  * one `Bench` and `Verify` run under) at local[4]. Suites share one JVM,
  * so this is one session for the whole run.
  */
trait SharedSpark {
  lazy val spark: SparkSession = GraftSession.get("local[4]")
}
