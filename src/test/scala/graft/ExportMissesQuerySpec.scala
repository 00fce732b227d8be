package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardOpenOption}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.io.{EventLogReader, ReportWriter}
import graft.queries.ExportMissesQuery
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.scalatest.funsuite.AnyFunSuite

class ExportMissesQuerySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def commitsDf = {
    val s = spark
    import s.implicits._
    Fixtures.commitEvents.toDF()
  }

  test("golden export: rows, frequency, (freq desc, input asc) order") {
    val out = ExportMissesQuery.run(commitsDf).collect()
    assert(out.length === 5)
    // freq 2 group sorted by input asc across texts, then freq 1
    val expected = Seq(
      ("ashijie", "世界", "时节", 3, 2L),
      ("nihao", "你好", "你好", 1, 2L),
      ("nihao2", "你好", "侬好", 1, 2L),
      ("shijie", "世界", "时节", 2, 2L),
      ("ceshi", "测试", "测试", 7, 1L))
    val got = out.map { r =>
      (r.getAs[String]("用户输入"), r.getAs[String]("实际选择"),
        r.getAs[String]("程序预测"), r.getAs[Int]("选择排名"),
        r.getAs[Long]("错误频率"))
    }.toSeq
    assert(got === expected)
  }

  test("window and groupBy+broadcast strategies agree") {
    val a = ExportMissesQuery.run(commitsDf, window = false)
      .collect().map(_.toSeq).toSet
    val b = ExportMissesQuery.run(commitsDf, window = true)
      .collect().map(_.toSeq).toSet
    assert(a === b)
  }

  test("export row count equals miss count") {
    import graft.ops.EventOps
    assert(ExportMissesQuery.run(commitsDf).count() ===
      commitsDf.filter(EventOps.isMiss).count())
  }

  test("csv report round-trips through readCsvReport (BOM stripped)") {
    val tmp = Files.createTempDirectory("graft-csv-rt")
    val outFile = tmp.resolve("report.csv").toString
    ReportWriter.writeCsvReport(ExportMissesQuery.run(commitsDf), outFile)
    val back = ReportWriter.readCsvReport(spark, outFile)
    assert(back.columns.toSeq === Seq("用户输入", "实际选择", "程序预测",
      "选择排名", "错误频率"))
    assert(back.count() === 5)
  }

  test("csv report has utf-8 BOM, Chinese header, sorted body") {
    val tmp: Path = Files.createTempDirectory("graft-csv")
    val outFile = tmp.resolve("report.csv").toString
    ReportWriter.writeCsvReport(ExportMissesQuery.run(commitsDf), outFile)
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(outFile))
    assert(bytes(0) === 0xEF.toByte && bytes(1) === 0xBB.toByte &&
      bytes(2) === 0xBF.toByte)
    val text = new String(bytes, 3, bytes.length - 3, "UTF-8")
    val lines = text.split("\n").toSeq
    assert(lines.head.trim === "用户输入,实际选择,程序预测,选择排名,错误频率")
    assert(lines(1).startsWith("ashijie,"))
    assert(lines.drop(1).count(_.nonEmpty) === 5)
  }

  test("csv quoting doubles embedded quotes (RFC 4180, as pandas and Go)") {
    val s = spark
    import s.implicits._
    val outFile = Files.createTempDirectory("graft-csv-quote")
      .resolve("report.csv").toString
    ReportWriter.writeCsvReport(Seq(("a\"b", "c,d", "e")).toDF("x", "y", "z"),
      outFile)
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(outFile))
    val body = "x,y,z\n\"a\"\"b\",\"c,d\",e\n".getBytes(UTF_8)
    assert(bytes.toSeq === (Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++ body).toSeq)
    assert(ReportWriter.readCsvReport(spark, outFile).collect().map(_.toSeq)
      .toSeq === Seq(Seq("a\"b", "c,d", "e")))
  }

  /** Ids of the persisted RDDs, copied out: `getPersistentRDDs` is a
    * strong map, and its `keySet` view keeps every RDD in it alive. */
  private def persistedIds(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keysIterator.toSet

  /** Bytes read through Hadoop's local file system, all threads. */
  private def localBytesRead(): Long =
    FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesRead).sum

  /** One CLI `export-misses` request (`graft.cli.Main`'s sequence) in
    * its own job group: (jobs started by `run` itself, miss count, log
    * bytes read, ids of the RDDs the request left persisted). The
    * report frame stays local, so it is unreachable on return. */
  private def exportRequest(log: Path): (Int, Long, Long, Set[Int]) = {
    val sc = spark.sparkContext
    val group = s"export-${System.nanoTime()}"
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(
            _.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    val persisted = persistedIds()
    val read0 = localBytesRead()
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "export-misses request")
    try {
      val report = ExportMissesQuery.run(
        EventLogReader.readCommits(spark, log.toString))
      Thread.sleep(300) // let the async listener bus deliver any job
      val runJobs = jobs.get()
      val n = report.count()
      ReportWriter.writeCsvReport(report,
        Files.createTempDirectory("graft-csv-once").resolve("r.csv").toString)
      assert(spark.sharedState.cacheManager
        .lookupCachedData(castToImpl(report)).isEmpty)
      (runJobs, n, localBytesRead() - read0,
        persistedIds() -- persisted)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("export-misses scans the log once per request, lazily, with no cached plan") {
    val log = Fixtures.writeJsonl(Fixtures.mixedLog)
    val size = Files.size(log)
    val cacheWasEmpty = spark.sharedState.cacheManager.isEmpty
    val (runJobs, n, read, pinned) = exportRequest(log)
    assert(runJobs === 0, "run() must not start a job")
    assert(n === 5)
    assert(read >= size && read < 2 * size,
      s"log of $size bytes read as $read bytes")
    assert(pinned.nonEmpty, "the miss rows should be pinned")
    // entries other suites cached earlier in this JVM are not ours
    if (cacheWasEmpty) assert(spark.sharedState.cacheManager.isEmpty)
    // a grown log is re-read by the next request, never served stale
    Files.write(log, ("\n" + Fixtures.commitLines.last).getBytes(UTF_8),
      StandardOpenOption.APPEND)
    assert(exportRequest(log)._2 === 6)
  }

  test("the pinned miss rows are released once the report is dropped") {
    val sc = spark.sparkContext
    val pinned = exportRequest(Fixtures.writeJsonl(Fixtures.mixedLog))._4
    assert(pinned.nonEmpty)
    val deadline = System.nanoTime() + 30L * 1000000000L
    def held = persistedIds().intersect(pinned)
    while (held.nonEmpty && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(200)
    }
    assert(held.isEmpty, s"pinned RDDs still held: $held")
  }
}
