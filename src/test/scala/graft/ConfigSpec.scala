package graft

import graft.config.LoggerConfig
import graft.ops.WritePipeline
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ConfigSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val configWithOverride =
    """-- config
      |local preset_choice = "developer"
      |local presets = {
      |    normal = {
      |        enabled = true,
      |        log_file_path = "/wrong/preset/path.jsonl",
      |    },
      |    developer = {
      |        enabled = true,
      |        log_file_path = "C:\\Users\\me\\rime_log.jsonl",
      |    },
      |}
      |return presets[preset_choice] or presets.custom
      |""".stripMargin

  test("S3: active preset's log_file_path override wins, un-escaped") {
    assert(LoggerConfig.parseActivePreset(configWithOverride)
      === Some("developer"))
    assert(LoggerConfig.resolveLogPath(configWithOverride, "/default.jsonl")
      === "C:\\Users\\me\\rime_log.jsonl")
  }

  test("S3: default path when no preset/override/config") {
    assert(LoggerConfig.resolveLogPath("", "/default.jsonl")
      === "/default.jsonl")
    val noOverride = configWithOverride
      .replace("""log_file_path = "C:\\Users\\me\\rime_log.jsonl",""", "")
    assert(LoggerConfig.resolveLogPath(noOverride, "/default.jsonl")
      === "/default.jsonl")
  }

  private def producerDf = {
    val s = spark
    import s.implicits._
    // (event_type, ts, rank, committed, first_cand, input_buf, subtype)
    Seq(
      ("session_start", "t0", None, None, None, None, None),
      ("text_committed", "t1", Some(0), Some("好"), Some("好"), Some("hao"), None),
      ("text_committed", "t2", Some(2), Some("世界"), Some("时节"), Some("shijie"), None),
      ("text_committed", "t3", None: Option[Int], Some("一"), Some("一"), Some("yi"), None),
      ("input_state_changed", "t4", None, None, None, Some("n"), Some("other_key")),
      ("error", "t5", None, None, None, None, None),
      ("session_end", "t6", None, None, None, None, None))
      .toDF("event_type", "timestamp", "selected_candidate_rank",
        "committed_text", "source_first_candidate", "source_input_buffer",
        "event_subtype")
  }

  test("P9 cascade, normal preset: only commits survive; fields masked (P8)") {
    val out = WritePipeline.applyPreset(producerDf, LoggerConfig.Normal)
    val rows = out.orderBy("timestamp").collect()
    // session/error dropped (no field rules, lua:139-140); state_changed
    // disabled in normal preset; all 3 commits kept
    assert(rows.map(_.getAs[String]("event_type")).toSeq ===
      Seq.fill(3)("text_committed"))
    // normal preset masks source_input_buffer (not in its field list)
    assert(rows.forall(_.isNullAt(rows.head.fieldIndex("source_input_buffer"))))
    assert(rows.map(_.getAs[String]("committed_text")).toSeq ===
      Seq("好", "世界", "一"))
  }

  test("P9: log_only_non_first_choice drops rank null and rank < 1") {
    val dev = LoggerConfig.Developer
    val out = WritePipeline.applyPreset(producerDf, dev)
    val commits = out.filter(col("event_type") === "text_committed").collect()
    assert(commits.map(_.getAs[String]("committed_text")).toSeq ===
      Seq("世界")) // rank 2 only; rank 0 and null dropped (lua:134-136)
  }

  test("P9 quirk: shipped presets drop ALL input_state_changed (empty subtype list)") {
    Seq(LoggerConfig.Developer, LoggerConfig.Advanced).foreach { p =>
      val out = WritePipeline.applyPreset(producerDf, p)
      assert(out.filter(col("event_type") === "input_state_changed").count()
        === 0, p.name)
    }
  }

  test("master switch off yields empty output") {
    val off = LoggerConfig.Normal.copy(enabled = false)
    assert(WritePipeline.applyPreset(producerDf, off).count() === 0)
  }

  test("round-trip: advanced-preset write then tolerant read keeps commit analytics") {
    val masked = WritePipeline.applyPreset(producerDf, LoggerConfig.Advanced)
    val tmp = Staged.scratch("graft-roundtrip")
    masked.write.mode("overwrite").json(tmp)
    val back = graft.io.EventLogReader.readJsonl(spark, tmp)
      .filter(col("event_type") === "text_committed")
    assert(back.count() === 3)
    assert(back.filter(col("selected_candidate_rank") === 2).count() === 1)
  }
}
