package graft

/** Minimal smoke runner mirroring the driver's t1 gate: run
  * `SparkEntry.entry` and print the row count (must be > 0). */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.start()
    val df = SparkEntry.entry(spark)
    val rows = df.collect()
    println(s"SMOKE entry rows=${rows.length}")
    rows.foreach(r => println(s"SMOKE $r"))
    spark.stop()
  }
}
