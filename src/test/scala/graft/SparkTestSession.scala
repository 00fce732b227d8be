package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole suite (suites run in one
  * forked JVM; building a session per suite would dominate test time).
  * Built by [[GraftSession]] like every entry point's session, with
  * its own env: two cores and no `SPARK_MASTER`, so the suite's plans
  * do not depend on the shell it runs from. */
object SparkTestSession {
  val Cores = 2

  lazy val spark: SparkSession =
    GraftSession.builder(Map("SPARK_GRAFT_CPUS" -> Cores.toString))
      .getOrCreate()
}
