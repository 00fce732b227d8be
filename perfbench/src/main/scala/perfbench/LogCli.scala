package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graft.io.{EventLogReader, ReportWriter}
import graft.queries.{AnalyzeQuery, ExportMissesQuery}

/** `log_cli`: the reference's own surface. One closed-loop client
  * alternates `analyze` and `export-misses` over a seeded JSONL log,
  * each with the call sequence of `graft.cli.Main`. At [[Lines]] lines
  * (22 MB) the JSON scan (io) and the report write keep the executors
  * busy for about half of each request; per-job driver cost takes the
  * rest. Catalog construction does no work here. */
final class LogCli extends Workload {
  import LogCli._

  private var log: File = _
  private var tally: Tally = _
  private var csv: File = _

  def setup(c: Ctx): Unit = {
    val dir = c.dir("log_cli")
    csv = new File(dir, "report.csv")
    log = new File(dir, "events.jsonl")
    tally = write(log, c.seed, Lines)
    val t0 = System.nanoTime()
    // the first requests on a fresh JVM compile the scan and write paths
    c.trace("warmup", "session") {
      (1 to WarmPairs).foreach(_ => request(c, log, tally, "warmup"))
    }
    c.layer("session.warmup_s") = (System.nanoTime() - t0) / 1e9
  }

  /** One `analyze` and one `export-misses` request, checked against the
    * tally: (analyze, export, export count, CSV write) seconds. */
  private def request(c: Ctx, path: File, t: Tally, key: String): (Double, Double, Double, Double) = {
    val p = path.getPath
    val t0 = System.nanoTime()
    val result = c.trace("analyze", "bench") {
      c.call(s"$key/analyze", "AnalyzeQuery.run", "queries") {
        AnalyzeQuery.run(c.trace("readCommits", "io")(EventLogReader.readCommits(c.spark, p)))
      }
    }
    val t1 = System.nanoTime()
    val (n, t2) = c.trace("export-misses", "bench") {
      val misses = c.call(s"$key/export", "ExportMissesQuery.run", "queries") {
        ExportMissesQuery.run(c.trace("readCommits", "io")(EventLogReader.readCommits(c.spark, p)))
      }
      val n = c.call(s"$key/export", "count", "exec")(misses.count())
      val t2 = System.nanoTime()
      if (n > 0) c.call(s"$key/export", "ReportWriter.writeCsvReport", "io") {
        ReportWriter.writeCsvReport(misses, csv.getPath)
      }
      (n, t2)
    }
    val t3 = System.nanoTime()
    c.attempted += 2
    val bad = Tally.checkAnalysis(result, t)
    if (bad.nonEmpty) c.fail("analyze", bad.mkString(", "))
    checkReport(n, t).foreach(c.fail("export-misses", _))
    ((t1 - t0) / 1e9, (t3 - t1) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
  }

  private def checkReport(n: Long, t: Tally): Option[String] =
    if (n != t.misses) Some(s"count=$n want ${t.misses}")
    else if (n == 0) None
    else {
      val bytes = Files.readAllBytes(csv.toPath)
      val bom = bytes.length >= 3 && bytes(0) == 0xEF.toByte && bytes(1) == 0xBB.toByte &&
        bytes(2) == 0xBF.toByte
      val lines = new String(bytes, 3, bytes.length - 3, UTF_8).split("\n")
      val top = lines.lift(1).map(_.split(",").last.trim.toLong).getOrElse(-1L)
      if (!bom) Some("report has no UTF-8 BOM")
      else if (lines.length != n + 1) Some(s"report has ${lines.length - 1} rows, want $n")
      else if (top != t.topMissFreq) Some(s"top miss frequency $top, want ${t.topMissFreq}")
      else None
    }

  def timed(c: Ctx): Outcome = {
    val rs = scala.collection.mutable.ArrayBuffer[(Double, Double, Double, Double)]()
    val start = System.nanoTime()
    val deadline = start + c.seconds * 1000000000L
    while (rs.isEmpty || System.nanoTime() < deadline)
      rs += c.trace("request", "bench")(request(c, log, tally, "timed"))
    val elapsed = (System.nanoTime() - start) / 1e9
    val pair = rs.map(r => r._1 + r._2).toSeq
    val analyze = rs.map(_._1).toSeq
    val export = rs.map(_._2).toSeq
    c.probe.foreach { p =>
      p.drain()
      c.layer("analyze.jobs") = p.byKey.get("timed/analyze").map(_("exec.jobs")).getOrElse(0.0) / rs.size
      c.layer("export.jobs") = p.byKey.get("timed/export").map(_("exec.jobs")).getOrElse(0.0) / rs.size
    }
    c.layer("cli.analyze_p50_s") = Stats.pct(analyze, 0.5)
    c.layer("cli.export_p50_s") = Stats.pct(export, 0.5)
    c.layer("export.count_s") = Stats.pct(rs.map(_._3).toSeq, 0.5)
    c.layer("export.csv_s") = Stats.pct(rs.map(_._4).toSeq, 0.5)
    Outcome(
      Map("latency_p50_s" -> Stats.pct(pair, 0.5), "latency_p90_s" -> Stats.pct(pair, 0.9),
        "throughput_per_s" -> 2 * rs.size / elapsed),
      Map("requests" -> 2 * rs.size, "log_lines" -> Lines, "log_bytes" -> log.length(),
        "analyze_p50_s" -> Stats.pct(analyze, 0.5), "analyze_p90_s" -> Stats.pct(analyze, 0.9),
        "export_p50_s" -> Stats.pct(export, 0.5), "export_p90_s" -> Stats.pct(export, 0.9),
        "expected" -> tally.toMap))
  }
}

object LogCli {
  /** 22 MB: about ten request pairs fit in a 12 s run on four cores. */
  val Lines = 100000
  val WarmPairs = 2
  /** 2025-01-01T00:00:00Z; events are 137 ms apart. */
  val BaseMs = 1735689600000L

  /** Writes a seeded log of `lines` lines and returns its tally. */
  def write(f: File, seed: Long, lines: Int): Tally = {
    val gen = new LogGen(seed)
    val t = new Tally
    val sb = new java.lang.StringBuilder
    val out = new java.io.BufferedOutputStream(new java.io.FileOutputStream(f), 1 << 16)
    try {
      var i = 0
      while (i < lines) {
        gen.line(BaseMs + i * 137L, sb)
        t.add(gen.lastRank, gen.lastText)
        if (sb.length > (1 << 15)) { out.write(sb.toString.getBytes(UTF_8)); sb.setLength(0) }
        i += 1
      }
      out.write(sb.toString.getBytes(UTF_8))
    } finally out.close()
    t
  }
}
