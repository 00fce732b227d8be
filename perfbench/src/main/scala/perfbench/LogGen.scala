package perfbench

import scala.collection.mutable

/** Seeded writer of JSONL lines shaped like the Rime logger's output
  * (`input_habit_logger.lua:126-177`), tallying the answers the engine
  * must give while it writes them.
  *
  * The log is a sequence of producer sessions (`session_start` ..
  * `session_end`); each session runs under the normal preset (commits
  * carry only rank, text and predicted candidate) or the advanced one
  * (every commit field, plus `input_state_changed` events). About 1% of
  * lines are corrupt and 0.5% blank. `committed_text` is Zipf-skewed
  * over a fixed vocabulary; ranks are drawn from {null, -1, 0, 1-5,
  * 6-17}.
  */
final class LogGen(seed: Long) {
  import LogGen._

  private val rnd = new java.util.SplittableRandom(seed)
  private var sessionLeft = 0
  private var advanced = false
  private var pendingEnd = false

  /** Rank code of the last line: [[NotCommit]] unless it was a valid
    * `text_committed` event, [[NullRank]] for one without a rank. */
  var lastRank: Int = NotCommit
  /** `committed_text` of the last valid commit. */
  var lastText: String = ""

  /** Appends one line (with its newline) stamped `tsMillis`. */
  def line(tsMillis: Long, sb: java.lang.StringBuilder): Unit = {
    lastRank = NotCommit
    val u = rnd.nextDouble()
    if (u < 0.005) sb.append('\n')
    else if (u < 0.015) corrupt(tsMillis, sb)
    else event(tsMillis, sb)
  }

  private def corrupt(ts: Long, sb: java.lang.StringBuilder): Unit = {
    if (rnd.nextInt(4) == 0) sb.append("not json ").append(rnd.nextInt(1000))
    else {
      // a commit cut before its closing brace: invalid JSON whatever
      // the cut point, so both readers must skip it
      val full = new java.lang.StringBuilder
      commit(ts, full, drawRank())
      val cut = 1 + rnd.nextInt(full.length() - 2)
      sb.append(full, 0, cut)
    }
    sb.append('\n')
  }

  private def event(ts: Long, sb: java.lang.StringBuilder): Unit = {
    if (pendingEnd) {
      pendingEnd = false
      obj(sb, "session_end", ts); sb.append("}\n")
    } else if (sessionLeft == 0) {
      // short sessions alternating the two presets keep the mix, and so
      // the bytes per line, the same from seed to seed
      sessionLeft = 20 + rnd.nextInt(80)
      advanced = !advanced
      obj(sb, "session_start", ts)
      str(sb, "schema_id", "wanxiang"); sb.append("}\n")
    } else {
      sessionLeft -= 1
      if (sessionLeft == 0) pendingEnd = true
      val u = rnd.nextDouble()
      if (u < 0.005) {
        obj(sb, "error", ts)
        str(sb, "component", "logger"); str(sb, "message", "menu unavailable")
        str(sb, "key_repr", "Tab"); sb.append("}\n")
      } else if (advanced && u < 0.4) {
        obj(sb, "input_state_changed", ts)
        str(sb, "event_subtype", "menu_navigation")
        str(sb, "key_action", Keys(rnd.nextInt(Keys.length)))
        str(sb, "input_buffer", pinyin())
        sb.append(",\"has_menu\":true}\n")
      } else {
        val rank = drawRank()
        commit(ts, sb, rank)
        sb.append('\n')
        lastRank = rank
      }
    }
  }

  private def drawRank(): Int = {
    val u = rnd.nextDouble()
    if (u < 0.05) NullRank
    else if (u < 0.15) -1
    else if (u < 0.60) 0
    else if (u < 0.90) 1 + rnd.nextInt(5)
    else 6 + rnd.nextInt(12)
  }

  private def commit(ts: Long, sb: java.lang.StringBuilder, rank: Int): Unit = {
    val text = Vocab(zipf())
    val predicted = if (rank == 0) text else Vocab(zipf())
    lastText = text
    obj(sb, "text_committed", ts)
    if (rank != NullRank) sb.append(",\"selected_candidate_rank\":").append(rank)
    str(sb, "committed_text", text)
    str(sb, "source_first_candidate", predicted)
    if (advanced) {
      val seq = pinyin()
      str(sb, "input_sequence_at_commit", seq)
      str(sb, "selection_method",
        if (rank == NullRank) "unknown"
        else if (rank == -1) "direct_commit_no_menu"
        else if (rank == 0) "first_choice_space"
        else if (rank < 9 && rnd.nextBoolean()) s"nth_choice_number_${rank + 1}"
        else "nth_choice_space")
      str(sb, "source_input_buffer", seq)
      sb.append(",\"source_candidates_list\":[")
      val n = 1 + rnd.nextInt(5)
      var i = 0
      while (i < n) {
        if (i > 0) sb.append(',')
        quoted(sb, if (i == 0) predicted else Vocab(zipf()))
        i += 1
      }
      sb.append(']')
      str(sb, "source_event_timestamp", isoTs(ts - 1))
    }
    sb.append('}')
  }

  private def pinyin(): String = {
    val n = 2 + rnd.nextInt(10)
    val c = new Array[Char](n)
    var i = 0
    while (i < n) { c(i) = ('a' + rnd.nextInt(26)).toChar; i += 1 }
    new String(c)
  }

  private def zipf(): Int = {
    val i = java.util.Arrays.binarySearch(ZipfCdf, rnd.nextDouble())
    math.min(if (i >= 0) i else -i - 1, Vocab.length - 1)
  }
}

object LogGen {
  val NotCommit: Int = Int.MinValue
  val NullRank: Int = Int.MinValue + 1

  private val Keys = Array("a", "space", "BackSpace", "Page_Down", "1", "2")

  /** Fixed vocabulary (independent of the workload seed) of 1-3
    * character words. */
  val Vocab: Array[String] = {
    val chars = "的一是在不了有和人这中大为上个国我以要他时来用们生到作地于出就分对成会可" +
      "主发年动同工也能下过子说产种面而方后多定行学法所民得经十三之进着等部度家电力里如水化高自二" +
      "理起小物现实加量都两体制机当使点从业本去把性好应开它合还因由其些然前外天政四日那社义事平形"
    val r = new java.util.SplittableRandom(20251003L)
    val seen = mutable.LinkedHashSet[String]()
    while (seen.size < 3000) {
      val n = 1 + r.nextInt(3)
      seen += (0 until n).map(_ => chars.charAt(r.nextInt(chars.length))).mkString
    }
    seen.toArray
  }

  private val ZipfCdf: Array[Double] = {
    val w = Vocab.indices.map(i => 1.0 / math.pow(i + 1, 1.07))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }

  private val IsoFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").withZone(java.time.ZoneOffset.UTC)

  def isoTs(ms: Long): String = IsoFmt.format(java.time.Instant.ofEpochMilli(ms))

  private def obj(sb: java.lang.StringBuilder, kind: String, ts: Long): Unit = {
    sb.append("{\"event_type\":\"").append(kind).append('"')
    str(sb, "timestamp", isoTs(ts))
  }

  private def str(sb: java.lang.StringBuilder, k: String, v: String): Unit = {
    sb.append(",\"").append(k).append("\":")
    quoted(sb, v)
  }

  private def quoted(sb: java.lang.StringBuilder, v: String): Unit = {
    sb.append('"')
    var i = 0
    while (i < v.length) {
      v.charAt(i) match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      i += 1
    }
    sb.append('"')
  }
}

/** Running expected answers over the commits of a log: every
  * `AnalysisResult` field, the miss count and the top miss frequency. */
final class Tally {
  var commits = 0L
  var direct = 0L
  val byRank = new Array[Long](18)
  private val missesByText = mutable.HashMap[String, Long]()

  def add(rank: Int, text: String): Unit =
    if (rank != LogGen.NotCommit) {
      commits += 1
      if (rank == -1) direct += 1
      else if (rank >= 0) {
        byRank(rank) += 1
        if (rank > 0) missesByText(text) = missesByText.getOrElse(text, 0L) + 1
      }
    }

  def selections: Long = byRank.sum
  def firstChoice: Long = byRank(0)
  def top3: Long = byRank(0) + byRank(1) + byRank(2)
  def misses: Long = selections - byRank(0)
  def topMissFreq: Long = if (missesByText.isEmpty) 0L else missesByText.values.max
  def averageRank: Option[Double] =
    if (selections == 0) None
    else Some(byRank.indices.map(r => r * byRank(r)).sum.toDouble / selections)
  def accuracy: Option[Double] =
    if (selections == 0) None
    else Some(byRank.indices.map(r => byRank(r) / (r + 1.0)).sum / selections)

  /** The expected answers as named values, for the run artifact. */
  def toMap: Map[String, Any] = Map(
    "total_commits" -> commits, "total_selections" -> selections,
    "raw_input_commits" -> direct, "first_choice_count" -> firstChoice,
    "top3_count" -> top3, "average_rank" -> averageRank.getOrElse(null),
    "overall_accuracy_score" -> accuracy.getOrElse(null),
    "misses" -> misses, "top_miss_freq" -> topMissFreq)
}

object Tally {
  /** Exact for counts, 1e-9 relative for averages and rates. */
  def close(got: Option[Double], want: Option[Double]): Boolean =
    (got, want) match {
      case (None, None) => true
      case (Some(g), Some(w)) =>
        math.abs(g - w) <= 1e-9 * math.max(math.abs(w), 1e-300)
      case _ => false
    }

  def ratio(num: Long, den: Long, scale: Double = 1.0): Option[Double] =
    if (den == 0) None else Some(num * scale / den)

  /** Mismatches between an engine `AnalysisResult` and the tally. */
  def checkAnalysis(r: Option[graft.queries.AnalysisResult], t: Tally): Seq[String] =
    r match {
      case None => if (t.commits == 0) Nil else Seq("analyze returned no result")
      case Some(a) =>
        def cnt(n: String, g: Long, w: Long) = if (g == w) None else Some(s"$n=$g want $w")
        def dbl(n: String, g: Option[Double], w: Option[Double]) =
          if (close(g, w)) None else Some(s"$n=$g want $w")
        Seq(
          cnt("total_commits", a.totalCommits, t.commits),
          cnt("total_selections", a.totalSelections, t.selections),
          cnt("raw_input_commits", a.rawInputCommits, t.direct),
          cnt("first_choice_count", a.firstChoiceCount, t.firstChoice),
          cnt("top3_count", a.top3Count, t.top3),
          dbl("first_choice_hit_rate", a.firstChoiceHitRate, ratio(t.firstChoice, t.selections)),
          dbl("top3_hit_rate", a.top3HitRate, ratio(t.top3, t.selections)),
          dbl("average_rank", a.averageRank, t.averageRank),
          dbl("overall_accuracy_score", a.overallAccuracyScore, t.accuracy),
          dbl("direct_input_rate", a.directInputRate, ratio(t.direct, t.commits, 100.0))
        ).flatten
    }
}
