package perfbench

import java.io.{ByteArrayOutputStream, File, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import graft.queries.AnalysisResult
import graft.streaming.EventStream
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.types._

/** Expected `sessionMetrics` row of one event-time session. */
final class SessionTally {
  var commits, selections, misses = 0L
  var firstMs, lastMs = -1L
}

/** The growing log of `log_tail`: chunks of lines shaped like the
  * producer's output. Event time advances 10 ms per chunk, and every
  * [[LogTail.ChunksPerSession]] chunks it jumps two hours, so the
  * watermarked session query closes and emits each session once the
  * next one starts. */
final class TailLog(seed: Long) {
  import LogTail._
  private val gen = new LogGen(seed)
  val total = new Tally
  val sessions: mutable.ArrayBuffer[SessionTally] = mutable.ArrayBuffer()
  var bytes = 0L

  /** Chunk `k`: its bytes and the file offset of its last line. */
  def chunk(k: Int): (Array[Byte], Long) = {
    val s = k / ChunksPerSession
    while (sessions.size <= s) sessions += new SessionTally
    val st = sessions(s)
    val baseMs = LogCli.BaseMs + s * SessionStrideMs + (k % ChunksPerSession) * ChunkMs
    val out = new ByteArrayOutputStream(PerChunk * 320)
    val sb = new java.lang.StringBuilder
    var lastStart = 0L
    var i = 0
    while (i < PerChunk) {
      val ts = baseMs + i * ChunkMs / PerChunk
      sb.setLength(0)
      gen.line(ts, sb)
      val r = gen.lastRank
      total.add(r, gen.lastText)
      if (r != LogGen.NotCommit) {
        st.commits += 1
        if (r >= 0) st.selections += 1
        if (r > 0) st.misses += 1
        if (st.firstMs < 0) st.firstMs = ts
        st.lastMs = ts
      }
      lastStart = bytes + out.size()
      out.write(sb.toString.getBytes(UTF_8))
      i += 1
    }
    bytes += out.size()
    (out.toByteArray, lastStart)
  }

  def writeAll(f: File, chunks: Int): Unit = {
    val out = new FileOutputStream(f)
    try (0 until chunks).foreach(k => out.write(chunk(k)._1)) finally out.close()
  }

  /** Sessions the watermark must have closed: all but the last. */
  def closedSessions: Seq[(Long, Long, Long, Long)] =
    sessions.filter(_.commits > 0).dropRight(1).toSeq
      .map(s => (s.firstMs, s.commits, s.selections, s.misses))
}

/** One micro-batch progress of a query, as the listener saw it. */
final case class Batch(query: java.util.UUID, atNs: Long, endPos: Long, rows: Long,
                       startMs: Long, durations: Map[String, Long],
                       stateRows: Long, stateBytes: Long)

/** `log_tail`: the live view. Open loop: a generator thread appends
  * 20k events/s in 10 ms chunks to one growing log, tailed through
  * `EventLogSource` micro-batches by `EventStream.streamingAnalyzeMetrics`
  * (complete mode, memory sink) and the watermarked
  * `EventStream.sessionMetrics` (written with `writeJsonlStream`). Each
  * chunk's lag runs from its due time to the moment both queries have
  * committed a batch covering it. A drain phase then replays a
  * pre-written backlog under `maxBytesPerTrigger`. The only workload
  * that exercises `sources`, state stores and the streaming write. */
final class LogTail extends Workload {
  import LogTail._

  private val batches = mutable.ArrayBuffer[Batch]()
  private var backlog: File = _
  private var backlogLog: TailLog = _

  private val listener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val now = System.nanoTime()
      val p = e.progress
      val end = p.sources.headOption.map(s => PosRe.findFirstMatchIn(s.endOffset)
        .map(_.group(1).toLong).getOrElse(-1L)).getOrElse(-1L)
      val d = p.durationMs
      val durations = d.keySet.toArray.map(k => k.toString -> d.get(k).longValue).toMap
      batches.synchronized {
        batches += Batch(p.id, now, end, p.numInputRows,
          java.time.Instant.parse(p.timestamp).toEpochMilli, durations,
          p.stateOperators.map(_.numRowsTotal).sum, p.stateOperators.map(_.memoryUsedBytes).sum)
      }
    }
  }

  def setup(c: Ctx): Unit = {
    c.spark.streams.addListener(listener)
    val dir = c.dir("log_tail")
    backlog = new File(dir, "backlog.jsonl")
    backlogLog = new TailLog(c.seed + 7)
    backlogLog.writeAll(backlog, BacklogLines / PerChunk)
    val t0 = System.nanoTime()
    c.trace("warmup", "session") {
      live(c, new TailLog(c.seed + 1), WarmSeconds, "warm")
      val small = new File(dir, "warm-backlog.jsonl")
      val smallLog = new TailLog(c.seed + 2)
      smallLog.writeAll(small, 50)
      drain(c, small, smallLog, "warm")
    }
    c.layer("session.warmup_s") = (System.nanoTime() - t0) / 1e9
  }

  private def source(spark: SparkSession, path: File, maxBytes: Option[Long]) = {
    val r = spark.readStream.format("graft.sources.EventLogSource")
    maxBytes.fold(r)(m => r.option("maxBytesPerTrigger", m.toString)).load(path.getAbsolutePath)
  }

  /** Starts both queries over `path`; returns them and the session
    * query's output directory. */
  private def start(c: Ctx, path: File, maxBytes: Option[Long], tag: String)
      : (StreamingQuery, StreamingQuery, File, String) = {
    val dir = c.dir(s"log_tail/$tag")
    val name = s"tail_analyze_${tag.replace('-', '_')}"
    val analyze = EventStream.streamingAnalyzeMetrics(source(c.spark, path, maxBytes))
      .writeStream.outputMode("complete").format("memory").queryName(name)
      .option("checkpointLocation", new File(dir, "ck-analyze").getAbsolutePath).start()
    val out = new File(dir, "sessions")
    val sessions = EventStream.writeJsonlStream(
      EventStream.sessionMetrics(source(c.spark, path, maxBytes), key = col("event_type")),
      out.getAbsolutePath, new File(dir, "ck-sessions").getAbsolutePath)
    (analyze, sessions, out, name)
  }

  /** Checks both sinks against the log's tallies; returns mismatches. */
  private def check(c: Ctx, log: TailLog, out: File, table: String): Seq[String] = {
    val rows = c.spark.table(table).collect()
    val analysis = rows.headOption.map { r =>
      def d(n: String) = if (r.isNullAt(r.fieldIndex(n))) None else Some(r.getAs[Double](n))
      AnalysisResult(r.getAs[Long]("total_commits"), r.getAs[Long]("total_selections"),
        r.getAs[Long]("raw_input_commits"), r.getAs[Long]("first_choice_count"),
        r.getAs[Long]("top3_count"), d("first_choice_hit_rate"), d("top3_hit_rate"),
        d("average_rank"), d("overall_accuracy_score"), d("direct_input_rate"))
    }.filter(_.totalCommits > 0)
    val got = c.spark.read.schema(SessionSchema).json(out.getAbsolutePath).collect()
      .map((r: Row) => (r.getTimestamp(1).getTime, r.getLong(3), r.getLong(4), r.getLong(5)))
      .toSeq.sorted
    val want = log.closedSessions.sorted
    Tally.checkAnalysis(analysis, log.total) ++
      (if (got == want) Nil else Seq(s"sessions ${got.take(3)}.. want ${want.take(3)}.. " +
        s"(${got.size} vs ${want.size})"))
  }

  /** The open-loop live phase; returns per-chunk lags (None: never
    * covered) and the generator's largest lateness. */
  private def live(c: Ctx, log: TailLog, seconds: Double, tag: String)
      : (Seq[Option[Double]], Double, Seq[String]) = {
    val path = new File(c.work, s"log_tail/live-$tag.jsonl")
    path.delete()
    path.createNewFile()
    val (qa, qs, out, table) = start(c, path, None, tag)
    val chunks = (seconds * 1000 / ChunkMs).toInt
    val due = new Array[Long](chunks)
    val lastStart = new Array[Long](chunks)
    var lateMax = 0L
    val from = batches.synchronized(batches.size)
    val gen = new Thread(() => {
      val w = new FileOutputStream(path, true)
      try {
        val t0 = System.nanoTime() + 100000000L
        var k = 0
        while (k < chunks) {
          val (b, last) = log.chunk(k)
          val d = t0 + k * ChunkMs * 1000000L
          var now = System.nanoTime()
          while (now < d) { java.util.concurrent.locks.LockSupport.parkNanos(d - now); now = System.nanoTime() }
          w.write(b)
          lateMax = math.max(lateMax, System.nanoTime() - d)
          due(k) = d
          lastStart(k) = last
          k += 1
        }
      } finally w.close()
    }, "perfbench-generator")
    c.trace(s"live-$tag", "streaming") {
      gen.start()
      gen.join()
      qa.processAllAvailable()
      qs.processAllAvailable()
    }
    org.apache.spark.PerfbenchBridge.drain(c.spark.sparkContext)
    qa.stop(); qs.stop()
    val bs = batches.synchronized(batches.drop(from).toSeq)
    val ids = Seq(qa.id, qs.id)
    val lags = (0 until chunks).map { k =>
      val covers = ids.map(id => bs.find(b => b.query == id && b.endPos > lastStart(k)).map(_.atNs))
      if (covers.forall(_.isDefined)) Some((covers.flatten.max - due(k)) / 1e9) else None
    }
    (lags, lateMax / 1e9, check(c, log, out, table))
  }

  /** Drains `path` from the start under `maxBytesPerTrigger`: seconds. */
  private def drain(c: Ctx, path: File, log: TailLog, tag: String): (Double, Seq[String]) = {
    val t0 = System.nanoTime()
    val (qa, qs, out, table) = c.trace(s"drain-$tag", "streaming") {
      val q = start(c, path, Some(MaxBytesPerTrigger), s"drain-$tag")
      q._1.processAllAvailable()
      q._2.processAllAvailable()
      q
    }
    val secs = (System.nanoTime() - t0) / 1e9
    qa.stop(); qs.stop()
    (secs, check(c, log, out, table))
  }

  def timed(c: Ctx): Outcome = {
    val from = batches.synchronized(batches.size)
    val liveLog = new TailLog(c.seed)
    val (lags, lateMax, liveErrors) = live(c, liveLog, c.seconds * LiveShare, "timed")
    c.attempted += lags.size
    if (lateMax > LateBoundS) {
      c.failed += lags.size
      c.errors += f"generator fell $lateMax%.3f s behind (bound $LateBoundS s)"
    } else lags.count(_.isEmpty) match {
      case 0 =>
      case n => c.failed += n; c.errors += s"$n chunks never covered by a committed batch"
    }
    liveErrors.foreach(c.fail("live", _))
    val liveBatches = batches.synchronized(batches.drop(from).toSeq)
    val drainStart = System.nanoTime()
    val drains = mutable.ArrayBuffer[Double]()
    var rep = 0
    while (drains.size < MinDrains || System.nanoTime() - drainStart < c.seconds * (1 - LiveShare) * 1e9) {
      val (secs, errs) = drain(c, backlog, backlogLog, s"t$rep")
      c.attempted += 1
      errs.foreach(c.fail(s"drain $rep", _))
      drains += secs
      rep += 1
    }
    val drainBatches = batches.synchronized(batches.drop(from).toSeq).size - liveBatches.size
    val lag = lags.flatten
    val data = liveBatches.filter(_.rows > 0)
    def med(k: String) = Stats.pct(data.map(_.durations.getOrElse(k, 0L) / 1e3), 0.5)
    val lastOfEach = liveBatches.groupBy(_.query).values.map(_.last)
    c.layer ++= Seq(
      "tail.latest_offset_s" -> med("latestOffset"), "tail.planning_s" -> med("queryPlanning"),
      "tail.wal_commit_s" -> med("walCommit"), "tail.commit_offsets_s" -> med("commitOffsets"),
      "tail.add_batch_s" -> med("addBatch"),
      "tail.rows_per_batch_p50" -> Stats.pct(data.map(_.rows.toDouble), 0.5),
      "tail.state_rows" -> lastOfEach.map(_.stateRows.toDouble).sum,
      "tail.state_mem_bytes" -> lastOfEach.map(_.stateBytes.toDouble).sum,
      "tail.batches" -> data.size.toDouble, "drain.batches" -> drainBatches.toDouble,
      "tail.gen_late_max_s" -> lateMax)
    if (c.trace.on) liveBatches.foreach { b =>
      val parent = c.trace.addMs("batch", "streaming", c.trace.current, b.startMs,
        b.startMs + b.durations.getOrElse("triggerExecution", 0L))
      var at = b.startMs
      Seq("latestOffset" -> "sources", "walCommit" -> "streaming", "getBatch" -> "sources",
        "queryPlanning" -> "catalyst", "addBatch" -> "exec", "commitOffsets" -> "streaming")
        .foreach { case (k, layer) =>
          val d = b.durations.getOrElse(k, 0L)
          c.trace.addMs(k, layer, parent, at, at + d)
          at += d
        }
    }
    val eps = BacklogLines / Stats.pct(drains.toSeq, 0.5)
    Outcome(
      Map("latency_p50_s" -> Stats.pct(lag, 0.5), "latency_p90_s" -> Stats.pct(lag, 0.9),
        "throughput_per_s" -> eps),
      Map("tail_lag_p50_s" -> Stats.pct(lag, 0.5), "tail_lag_p90_s" -> Stats.pct(lag, 0.9),
        "tail_drain_eps" -> eps, "chunks" -> lags.size, "drains" -> drains.size,
        "generator_late_max_s" -> lateMax, "live_lines" -> lags.size * PerChunk,
        "backlog_lines" -> BacklogLines))
  }
}

object LogTail {
  val Rate = 20000
  val ChunkMs = 10
  val PerChunk: Int = Rate * ChunkMs / 1000
  val ChunksPerSession = 100
  val SessionStrideMs: Long = 2 * 3600 * 1000L
  /** A run where the generator falls further behind counts as failed. */
  val LateBoundS = 0.25
  val LiveShare = 0.5
  val WarmSeconds = 1.0
  val BacklogLines = 50000
  val MaxBytesPerTrigger: Long = 4L << 20
  val MinDrains = 3
  private val PosRe = "\"pos\"\\s*:\\s*(\\d+)".r
  val SessionSchema: StructType = StructType(Seq(
    StructField("session_key", StringType), StructField("session_start", TimestampType),
    StructField("session_end", TimestampType), StructField("commits", LongType),
    StructField("selections", LongType), StructField("misses", LongType)))
}
