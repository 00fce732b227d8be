package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole suite (suites run in one
  * forked JVM; building a session per suite would dominate test time).
  * Built by [[GraftSession]] like every entry point's session, with
  * its own env: two cores and no `SPARK_MASTER`, so the suite's plans
  * do not depend on the shell it runs from. Warehouse and derby home
  * go to a temp dir, so a run leaves no tables in the checkout. */
object SparkTestSession {
  val Cores = 2

  lazy val spark: SparkSession = {
    val wh = java.nio.file.Files.createTempDirectory("graft-warehouse")
    System.setProperty("derby.system.home", wh.toString)
    GraftSession.builder(Map("SPARK_GRAFT_CPUS" -> Cores.toString))
      .config("spark.sql.warehouse.dir", wh.toString)
      .getOrCreate()
  }
}
