package graft

/** Dev/audit tool: print the formatted physical plan of named queries
  * (all queries when no names given). Usage:
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
    names.foreach { name =>
      println(s"==== $name ====")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
