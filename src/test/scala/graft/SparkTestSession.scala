package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (Spark startup dominates
  * test wall-clock otherwise): the harness session, so tests run under
  * Verify's and Bench's semantics (the r6 q79 escape), on a fixed four
  * cores whatever `SPARK_GRAFT_CPUS` says. */
object SparkTestSession {
  lazy val spark: SparkSession = GraftSession(4, "graft-test")
}
