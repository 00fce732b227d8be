package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

/** Writes one workload log and the answers tallied while writing it, for
  * the generator test (`perfbench/test_loggen.py`) to recount.
  *
  * `Gen --kind <cli|tail> --seed <n> --lines <n> --out <log>`; the tally
  * goes to `<log>.expected.json`. */
object Gen {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.drop(2) -> v }.toMap
    val out = new File(o("out"))
    val (tally, sessions) = o("kind") match {
      case "cli" => (LogCli.write(out, o("seed").toLong, o("lines").toInt), Nil)
      case "tail" =>
        val log = new TailLog(o("seed").toLong)
        log.writeAll(out, o("lines").toInt / LogTail.PerChunk)
        (log.total, log.closedSessions.map { case (a, b, c, d) => Seq(a, b, c, d) })
    }
    Files.write(new File(out.getPath + ".expected.json").toPath,
      Json.value(tally.toMap + ("closed_sessions" -> sessions)).getBytes(UTF_8))
  }
}
