package graft.cli

import java.nio.file.{Files, Paths}

import graft.GraftSession
import graft.config.LoggerConfig
import graft.io.{EventLogReader, ReportWriter}
import graft.queries.{AnalyzeQuery, ConsoleReport, ExportMissesQuery}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** CLI front-end mirroring the reference's analytics commands
  * (`rime-logger analyze` / `export-misses` / `status`; SURVEY §3.1-3.2).
  * The management-shell commands (install/uninstall) are filesystem
  * plumbing outside the analytics engine's scope.
  *
  * Usage:
  *   graft.cli.Main analyze        [--log <path>] [--config <lua>]
  *   graft.cli.Main export-misses  [--log <path>] [--config <lua>]
  *                                 [--output <csv>]
  *   graft.cli.Main status         [--log <path>] [--config <lua>]
  */
object Main {

  private def parseFlags(args: Seq[String]): Map[String, String] =
    args.sliding(2, 2).collect {
      case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap

  private def resolveLog(flags: Map[String, String]): String =
    flags.get("log").getOrElse {
      val default = sys.props("user.home") +
        "/.config/rime/input_habit_log_structured.jsonl"
      flags.get("config")
        .filter(p => Files.exists(Paths.get(p)))
        .map(p => LoggerConfig.resolveLogPath(
          new String(Files.readAllBytes(Paths.get(p)), "UTF-8"), default))
        .getOrElse(default)
    }

  private def readCommits(spark: SparkSession, path: String): DataFrame =
    if (path.endsWith(".parquet"))
      EventLogReader.readParquet(spark, path)
        .filter(org.apache.spark.sql.functions.col("event_type") ===
          "text_committed")
    else EventLogReader.readCommits(spark, path)

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { println("usage: analyze|export-misses|status [--log <path>]"); sys.exit(2) }
    val cmd = args.head
    val flags = parseFlags(args.drop(1).toSeq)
    val logPath = resolveLog(flags)
    if (!Files.exists(Paths.get(logPath))) {
      println(s"❌ 未找到日志文件: $logPath")
      sys.exit(1)
    }
    val spark = GraftSession.start()
    try cmd match {
      case "analyze" =>
        println(ConsoleReport.format(
          AnalyzeQuery.run(readCommits(spark, logPath))))
      case "export-misses" =>
        val out = flags.getOrElse("output",
          sys.props("user.home") + "/rime_mispredictions_report.csv")
        val misses = ExportMissesQuery.run(readCommits(spark, logPath))
        val n = misses.count()
        if (n == 0) println("未找到需要导出的错误预测记录。")
        else {
          ReportWriter.writeCsvReport(misses, out)
          println(s"✅ 已导出 $n 条错误预测记录到: $out")
        }
      case "status" =>
        val commits = readCommits(spark, logPath)
        println(s"日志文件: $logPath")
        println(s"text_committed 事件数: ${commits.count()}")
      case other =>
        println(s"unknown command: $other"); sys.exit(2)
    } finally spark.stop()
  }
}
