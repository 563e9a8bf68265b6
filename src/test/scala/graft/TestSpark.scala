package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run, from the engine's
  * factory, pinned at 4 cores whatever the host has.
  */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(cores = 4)
}
