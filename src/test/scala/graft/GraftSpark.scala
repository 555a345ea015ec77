package graft

import org.apache.spark.sql.SparkSession

/** The session a spec runs in: `GraftSession.local(4)`, the mains'
  * settings on four cores, so a suite run alone sees the same session
  * as one run after other suites.
  */
trait GraftSpark {
  lazy val spark: SparkSession = GraftSession.local(4)
}
