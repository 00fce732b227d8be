package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import graft.model.LogEvent

/** Golden JSONL fixtures per FIXTURES.md §1. */
object Fixtures {

  /** Commit events covering rank ∈ {null, -1, 0, 1, 2, 3, 7}
    * (FIXTURES.md case 3) with duplicate committed texts among the
    * misses for the 错误频率 window + tie-sort cases (case 6).
    *
    * Hand-computed goldens (analyzer.go:29-47 semantics):
    *   total_commits   = 14
    *   total_selections=  9  (rank >= 0)
    *   raw_input       =  3  (rank == -1)
    *   first_choice    =  4  (rank == 0)
    *   top3            =  7  (0 <= rank < 3)
    *   average_rank    = 14/9                 = 1.555555…
    *   accuracy        = (4 + 1 + 1/3 + 1/4 + 1/8)/9 = 0.634259259…
    *   direct_rate     = 3/14*100             = 21.428571…%
    */
  val commitLines: Seq[String] = Seq(
    // 2 commits with rank filtered out by preset (null)
    """{"event_type":"text_committed","timestamp":"2024-01-01T00:00:01.000Z","committed_text":"一","source_input_buffer":"yi"}""",
    """{"event_type":"text_committed","timestamp":"2024-01-01T00:00:02.000Z","committed_text":"二","source_input_buffer":"er"}""",
    // 3 direct commits (rank -1)
    """{"event_type":"text_committed","timestamp":"2024-01-01T00:00:03.000Z","selected_candidate_rank":-1,"committed_text":"abc","source_input_buffer":"abc"}""",
    """{"event_type":"text_committed","timestamp":"2024-01-01T00:00:04.000Z","selected_candidate_rank":-1,"committed_text":"def","source_input_buffer":"def"}""",
    """{"event_type":"text_committed","timestamp":"2024-01-01T00:00:05.000Z","selected_candidate_rank":-1,"committed_text":"ghi","source_input_buffer":"ghi"}""",
    // 4 first-choice selections (rank 0)
    """{"event_type":"text_committed","timestamp":"2024-01-01T00:00:06.000Z","selected_candidate_rank":0,"committed_text":"好","source_input_buffer":"hao","source_first_candidate":"好"}""",
    """{"event_type":"text_committed","timestamp":"2024-01-01T00:00:07.000Z","selected_candidate_rank":0,"committed_text":"对","source_input_buffer":"dui","source_first_candidate":"对"}""",
    """{"event_type":"text_committed","timestamp":"2024-01-01T00:00:08.000Z","selected_candidate_rank":0,"committed_text":"是","source_input_buffer":"shi","source_first_candidate":"是"}""",
    """{"event_type":"text_committed","timestamp":"2024-01-01T00:00:09.000Z","selected_candidate_rank":0,"committed_text":"的","source_input_buffer":"de","source_first_candidate":"的"}""",
    // 5 misses (rank > 0): committed texts 你好×2, 世界×2, 测试×1
    """{"event_type":"text_committed","timestamp":"2024-01-01T00:00:10.000Z","selected_candidate_rank":1,"committed_text":"你好","source_input_buffer":"nihao","source_first_candidate":"你好","source_candidates_list":["拟好","你好"]}""",
    """{"event_type":"text_committed","timestamp":"2024-01-01T00:00:11.000Z","selected_candidate_rank":1,"committed_text":"你好","source_input_buffer":"nihao2","source_first_candidate":"侬好"}""",
    """{"event_type":"text_committed","timestamp":"2024-01-01T00:00:12.000Z","selected_candidate_rank":2,"committed_text":"世界","source_input_buffer":"shijie","source_first_candidate":"时节"}""",
    """{"event_type":"text_committed","timestamp":"2024-01-01T00:00:13.000Z","selected_candidate_rank":3,"committed_text":"世界","source_input_buffer":"ashijie","source_first_candidate":"时节"}""",
    """{"event_type":"text_committed","timestamp":"2024-01-01T00:00:14.000Z","selected_candidate_rank":7,"committed_text":"测试","source_input_buffer":"ceshi","source_first_candidate":"测试"}""")

  /** Non-commit noise a tolerant consumer must coexist with
    * (FIXTURES.md cases 4, 7). */
  val noiseLines: Seq[String] = Seq(
    """{"event_type":"session_start","timestamp":"2024-01-01T00:00:00.000Z"}""",
    """{"event_type":"input_state_changed","timestamp":"2024-01-01T00:00:05.500Z"}""",
    "",
    """{this is not json at all""",
    """{"event_type":"error","timestamp":"2024-01-01T00:00:15.000Z"}""",
    """not json either}""",
    "",
    """{"event_type":"session_end","timestamp":"2024-01-01T00:00:16.000Z"}""")

  /** Interleave commits with noise (corrupt/blank lines in the middle,
    * not just at the edges). */
  def mixedLog: Seq[String] = {
    val (a, b) = commitLines.splitAt(7)
    noiseLines.take(4) ++ a ++ noiseLines.drop(4) ++ b
  }

  def writeJsonl(lines: Seq[String]): Path = {
    val p = Paths.get(Staged.scratch("graft-fixture"), "log.jsonl")
    Files.write(p, lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    p
  }

  /** The same commit set as typed records, for Dataset-based tests. */
  def commitEvents: Seq[LogEvent] = Seq(
    LogEvent("text_committed", "2024-01-01T00:00:01.000Z", Some("一"), None, None, None, Some("yi"), None, None),
    LogEvent("text_committed", "2024-01-01T00:00:02.000Z", Some("二"), None, None, None, Some("er"), None, None),
    LogEvent("text_committed", "2024-01-01T00:00:03.000Z", Some("abc"), None, None, Some(-1), Some("abc"), None, None),
    LogEvent("text_committed", "2024-01-01T00:00:04.000Z", Some("def"), None, None, Some(-1), Some("def"), None, None),
    LogEvent("text_committed", "2024-01-01T00:00:05.000Z", Some("ghi"), None, None, Some(-1), Some("ghi"), None, None),
    LogEvent("text_committed", "2024-01-01T00:00:06.000Z", Some("好"), None, None, Some(0), Some("hao"), None, Some("好")),
    LogEvent("text_committed", "2024-01-01T00:00:07.000Z", Some("对"), None, None, Some(0), Some("dui"), None, Some("对")),
    LogEvent("text_committed", "2024-01-01T00:00:08.000Z", Some("是"), None, None, Some(0), Some("shi"), None, Some("是")),
    LogEvent("text_committed", "2024-01-01T00:00:09.000Z", Some("的"), None, None, Some(0), Some("de"), None, Some("的")),
    LogEvent("text_committed", "2024-01-01T00:00:10.000Z", Some("你好"), None, None, Some(1), Some("nihao"), Some(Seq("拟好", "你好")), Some("你好")),
    LogEvent("text_committed", "2024-01-01T00:00:11.000Z", Some("你好"), None, None, Some(1), Some("nihao2"), None, Some("侬好")),
    LogEvent("text_committed", "2024-01-01T00:00:12.000Z", Some("世界"), None, None, Some(2), Some("shijie"), None, Some("时节")),
    LogEvent("text_committed", "2024-01-01T00:00:13.000Z", Some("世界"), None, None, Some(3), Some("ashijie"), None, Some("时节")),
    LogEvent("text_committed", "2024-01-01T00:00:14.000Z", Some("测试"), None, None, Some(7), Some("ceshi"), None, Some("测试")))
}
