package graft.io

import java.io.{File, FileOutputStream}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame

/** Report sinks (SURVEY §2.8).
  *
  * The CSV report mirrors `cli.py:350-352`: header row with the Chinese
  * column names, UTF-8 with BOM (`utf-8-sig`) so Excel renders the
  * Chinese headers. BOM/single-file handling lives here in the report
  * layer, not in the engine (SURVEY §7.4).
  */
object ReportWriter {

  private val Bom = Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte)

  /** RFC 4180 quoting: a quote inside a quoted field is doubled
    * (`"a""b"`), as pandas `to_csv` (`cli.py:350-352`), Go
    * `encoding/csv` and Excel write and expect. Spark's default escape
    * is a backslash (`"a\"b"`). */
  private val CsvOptions = Map("header" -> "true", "escape" -> "\"")

  /** Write a (already sorted) DataFrame as ONE csv file with header and
    * UTF-8 BOM at `outFile`. `coalesce(1)` is safe here: the report is
    * bounded (misses, further top-k-cappable) — never call this on an
    * unbounded result. */
  def writeCsvReport(df: DataFrame, outFile: String): Unit = {
    val tmp = outFile + ".spark-tmp"
    df.coalesce(1).write.mode("overwrite").options(CsvOptions).csv(tmp)
    val part = new File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
      .getOrElse(sys.error(s"no csv part file under $tmp"))
    val out = new FileOutputStream(outFile)
    try {
      out.write(Bom) // utf-8-sig, cli.py:352
      Files.copy(part.toPath, out)
    } finally out.close()
    // clean the temp dir
    new File(tmp).listFiles().foreach(_.delete())
    Files.deleteIfExists(Paths.get(tmp))
  }

  /** JSONL append sink (K3 / T8): the producer's own format. */
  def writeJsonl(df: DataFrame, outDir: String): Unit =
    df.write.mode("append").json(outDir)

  /** Re-ingest a CSV report written by [[writeCsvReport]]. Spark's CSV
    * reader does not strip the utf-8-sig BOM, which would otherwise
    * corrupt the first header name (`﻿用户输入`); normalize it. */
  def readCsvReport(spark: org.apache.spark.sql.SparkSession,
                    path: String): DataFrame = {
    val df = spark.read.options(CsvOptions).csv(path)
    df.columns.headOption match {
      case Some(first) if first.startsWith("﻿") =>
        df.withColumnRenamed(first, first.substring(1))
      case _ => df
    }
  }
}
