package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class EventLogSourceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val Fmt = "graft.sources.EventLogSource"

  private def writeLog(lines: Seq[String]): String = {
    val f = Paths.get(Staged.scratch("eventlog"), "log.jsonl")
    Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
    f.toString
  }

  private def commitLine(i: Int, rank: Any): String =
    s"""{"event_type": "text_committed", "timestamp": "T$i", """ +
      s""""committed_text": "w$i", "selected_candidate_rank": $rank, """ +
      s""""source_candidates_list": ["a", "b$i"]}"""

  private def fixture: Seq[String] =
    (1 to 50).map(i => commitLine(i, i % 7)) ++
      Seq("", "   ", "not json at all", """{"event_type": 5}""") ++
      (1 to 10).map(i =>
        s"""{"event_type": "input_state_changed", "timestamp": "S$i"}""")

  test("reads the log identically to the built-in reader, at any split size") {
    val path = writeLog(fixture)
    val builtin = graft.io.EventLogReader.readJsonl(spark, path)
      .orderBy("timestamp")
      .collect().map(_.toSeq).toSeq
    // 64-byte splits force dozens of boundary lines; 1 MB = one split
    Seq("64", "1048576").foreach { split =>
      val v2 = spark.read.format(Fmt).option("splitBytes", split)
        .load(path).orderBy("timestamp")
        .collect().map(_.toSeq).toSeq
      assert(v2 === builtin, s"splitBytes=$split")
    }
  }

  test("corrupt, blank, and non-string-typed lines are skipped") {
    val path = writeLog(fixture)
    val df = spark.read.format(Fmt).load(path)
    assert(df.count() === 61) // 50 commits + 10 state + the {"event_type":5}
    // the {"event_type": 5} row survives as a JSON-rendered string
    assert(df.filter(col("event_type") === "5").count() === 1)
  }

  test("event_type equality is pushed into the scan and applied exactly") {
    val path = writeLog(fixture)
    val scan = spark.read.format(Fmt).load(path)
      .filter(col("event_type") === "text_committed")
    val planned = scan.queryExecution.executedPlan.toString
    assert(planned.contains("pushed=[") &&
      planned.contains("EqualTo(event_type,text_committed)"),
      s"filter not pushed into the v2 scan:\n$planned")
    assert(scan.count() === 50)
  }

  test("column pruning reaches the source read schema") {
    val path = writeLog(fixture)
    val scan = spark.read.format(Fmt).load(path)
      .select("timestamp", "selected_candidate_rank")
    val planned = scan.queryExecution.executedPlan.toString
    assert(!planned.contains("committed_text"),
      s"unrequested column in the scan:\n$planned")
    val rows = scan.orderBy("timestamp").limit(3).collect()
    assert(rows.forall(_.length === 2))
  }

  test("array column and null rank round-trip") {
    val path = writeLog(Seq(
      commitLine(1, 0),
      """{"event_type": "text_committed", "timestamp": "T2"}"""))
    val rows = spark.read.format(Fmt).load(path)
      .orderBy("timestamp")
      .select("source_candidates_list", "selected_candidate_rank")
      .collect()
    assert(rows(0).getSeq[String](0) === Seq("a", "b1"))
    assert(rows(0).getInt(1) === 0)
    assert(rows(1).isNullAt(0) && rows(1).isNullAt(1))
  }

  test("v2 write path: rename-on-commit round trip, append and truncate") {
    val s2 = spark
    import s2.implicits._
    import graft.model.LogEvent
    val dir = Staged.scratch("eventlog_w")
    def events(n: Int, tag: String) = (1 to n).map(i =>
      LogEvent("text_committed", s"$tag$i", Some(s"w$i"), None, None,
        Some(i % 5), None, Some(Seq("a", "b")), None)).toDF()

    events(20, "A").repartition(3)
      .write.format(Fmt).mode("append").save(dir)
    val afterAppend = spark.read.format(Fmt).load(dir)
    assert(afterAppend.count() === 20)
    // only committed .jsonl parts are visible, no temp leftovers
    val files = new java.io.File(dir).listFiles().map(_.getName)
    assert(files.forall(_.endsWith(".jsonl")), files.mkString(","))

    events(5, "B").write.format(Fmt).mode("append").save(dir)
    assert(spark.read.format(Fmt).load(dir).count() === 25)

    events(7, "C").write.format(Fmt).mode("overwrite").save(dir)
    val finalRead = spark.read.format(Fmt).load(dir)
    assert(finalRead.count() === 7)
    // null fields were omitted on write and come back null (omitempty)
    val row = finalRead.orderBy("timestamp").head()
    assert(row.getAs[String]("timestamp") === "C1")
    assert(row.isNullAt(row.fieldIndex("source_input_buffer")))
    assert(row.getAs[Seq[String]]("source_candidates_list") ===
      Seq("a", "b"))
  }

  test("v2 micro-batch stream: incremental byte offsets, no duplicates") {
    val f = Paths.get(Staged.scratch("eventlog_stream"), "log.jsonl")
    def append(lines: Seq[String]): Unit =
      Files.write(f, (lines.mkString("\n") + "\n").getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.APPEND)

    Files.write(f, "".getBytes)
    append((1 to 5).map(i => commitLine(i, 0)))
    val q = spark.readStream.format(Fmt).load(f.toString)
      .writeStream.format("memory").queryName("v2stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("v2stream").count() === 5)
      append((6 to 9).map(i => commitLine(i, 1)))
      q.processAllAvailable()
      val ts = spark.table("v2stream").collect()
        .map(_.getAs[String]("timestamp")).sorted.toSeq
      assert(ts === (1 to 9).map(i => s"T$i").sorted)
    } finally q.stop()
  }

  test("maxBytesPerTrigger caps each micro-batch; backlog still drains fully") {
    val f = Paths.get(Staged.scratch("eventlog_admission"), "log.jsonl")
    val lines = (1 to 20).map(i => commitLine(i, 0))
    Files.write(f, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    val totalBytes = f.toFile.length()
    // offset-level admission control, checked directly: each
    // latestOffset(start, limit) advances at most maxBytes
    val stream = new graft.sources.EventLogMicroBatchStream(
      f.toString, graft.model.LogEvent.schema, Array.empty,
      splitBytes = 4096, maxBytesPerTrigger = Some(64L))
    var pos = 0L
    var batches = 0
    while (pos < totalBytes && batches < 10000) {
      val next = stream.latestOffset(
        graft.sources.EventLogOffset(pos),
        org.apache.spark.sql.connector.read.streaming.ReadLimit
          .allAvailable())
        .asInstanceOf[graft.sources.EventLogOffset].pos
      assert(next - pos <= 64L, "batch exceeded the byte cap")
      assert(next > pos, "admission control must make progress")
      pos = next
      batches += 1
    }
    assert(pos === totalBytes) // the backlog drains completely
    assert(batches > 1)        // ...across multiple capped batches
    // end-to-end: the capped stream still delivers every line once
    val q = spark.readStream.format(Fmt)
      .option("maxBytesPerTrigger", "64").load(f.toString)
      .writeStream.format("memory").queryName("v2capped")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("v2capped").count() === 20)
    } finally q.stop()
  }

  test("pushed IsNotNull agrees with materialization; bad types drop the line") {
    val path = writeLog(Seq(
      commitLine(1, 0),
      // non-integral rank: whole line rejected (Go json.Unmarshal / PERMISSIVE)
      commitLine(2, "3.7").replace("\"3.7\"", "3.7"),
      // string rank: same
      commitLine(3, "\"oops\""),
      // candidates not an array: same
      """{"event_type": "text_committed", "timestamp": "T4", """ +
        """"source_candidates_list": "not-an-array"}""",
      // null array element stays a null element
      """{"event_type": "text_committed", "timestamp": "T5", """ +
        """"selected_candidate_rank": 2, """ +
        """"source_candidates_list": ["a", null]}"""))
    val all = spark.read.format(Fmt).load(path)
    assert(all.count() === 2) // lines 2-4 rejected whole, T1+T5 survive
    // IsNotNull pushed into the scan must not leak nulls through
    val notNull = spark.read.format(Fmt).load(path)
      .filter(col("selected_candidate_rank").isNotNull)
    assert(notNull.collect().forall(
      !_.isNullAt(LogEvent_rankIndex)), "null leaked through IsNotNull")
    assert(notNull.count() === 2) // T1 and T5
    val t5 = all.filter(col("timestamp") === "T5")
      .select("source_candidates_list").head().getSeq[String](0)
    assert(t5 === Seq("a", null))
  }

  private val LogEvent_rankIndex =
    graft.model.LogEvent.schema.fieldIndex("selected_candidate_rank")
}
