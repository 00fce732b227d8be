package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Dev/audit tool: print the formatted physical plan of named queries
  * (all queries when no names given), each under its
  * `construct_jobs=<n>` line — the Spark jobs started while the entry
  * was built (driver-side fetches, pins, narrowing loops). Usage:
  *   sbt "runMain graft.Explain [sfDir] [name ...]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.start()
    // the plans are the output: keep WARN lines (global-Window "No
    // Partition Defined" and the like) from interleaving with them
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new AtomicInteger
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })
    // listener events arrive asynchronously: drain the bus so every
    // job an entry started is counted against that entry
    def drained(): Int = {
      org.apache.spark.sql.GraftBridge.drainListeners(spark)
      jobs.get
    }
    names.foreach { name =>
      println(s"==== $name ====")
      val before = drained()
      val df = SparkEntry.queries(name)(spark, sfDir)
      println(s"construct_jobs=${drained() - before}")
      df.explain("formatted")
    }
    spark.stop()
  }
}
