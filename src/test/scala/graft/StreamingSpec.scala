package graft

import java.nio.file.{Files, Paths}

import graft.model.LogEvent
import graft.streaming.{EventStream, RankRederivation, RawKeyEvent}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** A realistic keystroke script: type, page, navigate, commit. */
  private val script: Seq[RawKeyEvent] = Seq(
    // session A: type "nihao", menu shows, commit first choice via space
    RawKeyEvent("A", 1, "key", Some("n"), Some("n"), Some(Seq("你", "拟")), None),
    RawKeyEvent("A", 2, "key", Some("i"), Some("ni"), Some(Seq("你", "泥", "逆")), None),
    RawKeyEvent("A", 3, "key", Some("space"), Some("nihao"), Some(Seq("你好", "拟好")), None),
    RawKeyEvent("A", 4, "commit", None, None, None, Some("你好")),
    // session A: second page selection via digit 2 → rank 6+1=7
    RawKeyEvent("A", 5, "key", Some("s"), Some("s"), Some(Seq("是", "事", "时")), None),
    RawKeyEvent("A", 6, "key", Some("Page_Down"), Some("s"), Some(Seq("士", "世", "市")), None),
    RawKeyEvent("A", 7, "key", Some("2"), Some("s"), Some(Seq("士", "世", "市")), None),
    RawKeyEvent("A", 8, "commit", None, None, None, Some("世")),
    // session A: direct commit with no menu
    RawKeyEvent("A", 9, "key", Some("Return"), None, None, None),
    RawKeyEvent("A", 10, "commit", None, None, None, Some("raw")),
    // session B (independent state): space commit of 2nd candidate → rank 1
    RawKeyEvent("B", 1, "key", Some("h"), Some("hao"), Some(Seq("好", "号")), None),
    RawKeyEvent("B", 2, "key", Some("space"), Some("hao"), Some(Seq("好", "号")), None),
    RawKeyEvent("B", 3, "commit", None, None, None, Some("号")))

  private def checkDerived(rows: Seq[graft.streaming.DerivedCommit]): Unit = {
    val byKey = rows.map(r => (r.session_id, r.seq) -> r).toMap
    assert(rows.size === 4)
    val a4 = byKey(("A", 4L))
    assert(a4.selected_candidate_rank === 0) // first choice via space
    assert(a4.selection_method === "first_choice_space")
    assert(a4.source_first_candidate === Some("你好"))
    val a8 = byKey(("A", 8L))
    assert(a8.selected_candidate_rank === 7) // page 1 * 6 + (2-1)
    assert(a8.selection_method === "nth_choice_number_2")
    val a10 = byKey(("A", 10L))
    assert(a10.selected_candidate_rank === -1)
    // the Return keypress at seq 9 set the snapshot buffer (lua keeps
    // an "N/A" fallback on EVERY keypress), so this is not
    // direct_commit_no_menu — that label means "no keypress ever"
    assert(a10.selection_method === "unknown")
    val b3 = byKey(("B", 3L))
    assert(b3.selected_candidate_rank === 1) // 2nd candidate, page 0
    assert(b3.selection_method === "nth_choice_space")
  }

  test("T2-T4 state machine derives producer-identical commits (batch)") {
    val s = spark
    import s.implicits._
    checkDerived(RankRederivation.deriveCommits(script.toDS()).collect().toSeq)
  }

  test("T2-T4 state machine over a real stream, state across micro-batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[RawKeyEvent]
    val q = RankRederivation.deriveCommits(mem.toDS())
      .writeStream.format("memory").queryName("derived")
      .outputMode("append").start()
    try {
      // split mid-session: snapshot state must survive the batch boundary
      val (b1, b2) = script.splitAt(6)
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val rows = s.table("derived").as[graft.streaming.DerivedCommit]
        .collect().toSeq
      checkDerived(rows)
    } finally q.stop()
  }

  test("page tracker survives menu close (lua:370 zeroes only the snapshot)") {
    val s = spark
    import s.implicits._
    val script = Seq(
      // type, page to 2nd page, menu momentarily closes, reopens on the
      // SAME buffer → tracker page must still be 1
      RawKeyEvent("C", 1, "key", Some("s"), Some("s"), Some(Seq("是", "事")), None),
      RawKeyEvent("C", 2, "key", Some("Page_Down"), Some("s"), Some(Seq("士", "世")), None),
      RawKeyEvent("C", 3, "key", Some("x"), Some("s"), None, None), // menu closes
      RawKeyEvent("C", 4, "key", Some("2"), Some("s"), Some(Seq("士", "世")), None),
      RawKeyEvent("C", 5, "commit", None, None, None, Some("世")))
    val out = RankRederivation.deriveCommits(script.toDS()).collect()
    assert(out.length === 1)
    // digit 2 on tracked page 1 → rank 1*6 + (2-1) = 7, not 1
    assert(out.head.selected_candidate_rank === 7)
  }

  test("random scripts: streamed output equals a direct fold, any batch split") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(17)
    val keys = Seq("space", "1", "2", "Page_Down", "Page_Up", "a", "Return")
    val script = (1 to 3).flatMap { sess =>
      var seq = 0L
      (1 to 40).map { _ =>
        seq += 1
        if (rnd.nextInt(4) == 0)
          RawKeyEvent(s"S$sess", seq, "commit", None, None, None,
            Some(s"c${rnd.nextInt(5)}"))
        else {
          val menu = if (rnd.nextBoolean())
            Some(Seq.fill(rnd.nextInt(4) + 1)(s"c${rnd.nextInt(5)}")) else None
          RawKeyEvent(s"S$sess", seq, "key",
            Some(keys(rnd.nextInt(keys.length))),
            Some(s"buf${rnd.nextInt(3)}"), menu, None)
        }
      }
    }
    // trusted path: direct fold of the step function per session
    val expected = script.groupBy(_.session_id).toSeq.flatMap {
      case (_, evs) =>
        var st = RankRederivation.initialState
        evs.sortBy(_.seq).flatMap { e =>
          val (next, out) = RankRederivation.step(st, e)
          st = next
          out
        }
    }.map(d => (d.session_id, d.seq) -> d).toMap
    // streamed path with a random batch split
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[RawKeyEvent]
    val q = RankRederivation.deriveCommits(mem.toDS())
      .writeStream.format("memory").queryName("derived_rand")
      .outputMode("append").start()
    try {
      val shuffled = rnd.shuffle(script) // arrival order ≠ seq order
      val cut1 = shuffled.length / 3
      val cut2 = 2 * shuffled.length / 3
      // NOTE: split points must respect per-session seq order across
      // batches (state can't rewind); sort each batch segment instead
      val batches = Seq(script.take(cut1), script.slice(cut1, cut2),
        script.drop(cut2))
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      val got = s.table("derived_rand").as[graft.streaming.DerivedCommit]
        .collect().map(d => (d.session_id, d.seq) -> d).toMap
      assert(got === expected)
    } finally q.stop()
  }

  test("T1 watermark: late events beyond the watermark are dropped from state") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import graft.model.LogEvent
    def ev(ts: String) = LogEvent("text_committed", ts, Some("x"), None,
      None, Some(0), Some("x"), None, None)
    val mem = MemoryStream[LogEvent]
    // streaming needs a data-derived key; all events share one value
    val q = EventStream.sessionMetrics(mem.toDF(), gap = "10 minutes",
        watermark = "5 minutes", key = col("committed_text"))
      .writeStream.format("memory").queryName("sessions_wm")
      .outputMode("append").start()
    try {
      mem.addData(ev("2024-01-01T00:00:00.000Z"), ev("2024-01-01T00:01:00.000Z"))
      q.processAllAvailable()
      // advance event time far past the first session + watermark
      mem.addData(ev("2024-01-01T01:00:00.000Z"))
      q.processAllAvailable()
      // a very late event older than the watermark: must not resurrect
      // or corrupt the closed session
      mem.addData(ev("2024-01-01T00:02:00.000Z"))
      q.processAllAvailable()
      mem.addData(ev("2024-01-01T02:00:00.000Z"))
      q.processAllAvailable()
      val rows = s.table("sessions_wm").collect()
      val first = rows.filter(_.getAs[java.sql.Timestamp]("session_start")
        .toInstant.toString.startsWith("2024-01-01T00:00"))
      assert(first.length === 1)
      assert(first.head.getAs[Long]("commits") === 2) // late event excluded
    } finally q.stop()
  }

  test("tumbling windows: watermark finalizes buckets; late events drop") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import graft.model.LogEvent
    def ev(ts: String) = LogEvent("text_committed", ts, Some("x"), None,
      None, Some(0), Some("x"), None, None)
    val mem = MemoryStream[LogEvent]
    val q = EventStream.tumblingMetrics(mem.toDF(), size = "10 minutes",
        watermark = "5 minutes", key = col("committed_text"))
      .writeStream.format("memory").queryName("tumbling_wm")
      .outputMode("append").start()
    try {
      // two commits in the [00:00, 00:10) bucket
      mem.addData(ev("2024-01-01T00:01:00.000Z"),
        ev("2024-01-01T00:04:00.000Z"))
      q.processAllAvailable()
      // nothing final yet: watermark still inside the bucket
      assert(s.table("tumbling_wm").count() === 0)
      // event far ahead pushes the watermark past 00:10 → bucket emits
      mem.addData(ev("2024-01-01T01:00:00.000Z"))
      q.processAllAvailable()
      // a late commit for the CLOSED bucket must not resurrect it
      mem.addData(ev("2024-01-01T00:05:00.000Z"))
      q.processAllAvailable()
      mem.addData(ev("2024-01-01T02:00:00.000Z"))
      q.processAllAvailable()
      val rows = s.table("tumbling_wm").collect()
      val first = rows.filter(_.getAs[java.sql.Timestamp]("window_start")
        .toInstant.toString.startsWith("2024-01-01T00:00"))
      assert(first.length === 1)
      assert(first.head.getAs[Long]("commits") === 2) // late one dropped
      // bucket bounds are epoch-aligned to the window size
      assert(first.head.getAs[java.sql.Timestamp]("window_end")
        .toInstant.toString.startsWith("2024-01-01T00:10"))
    } finally q.stop()
  }

  test("rank re-derivation: idle timeout evicts state; stale seq fails fast") {
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    import graft.streaming.SnapshotState
    def gs(st: Option[SnapshotState], timedOut: Boolean) =
      TestGroupState.create[SnapshotState](
        st.map(Optional.of[SnapshotState]).getOrElse(
          Optional.empty[SnapshotState]),
        GroupStateTimeout.ProcessingTimeTimeout, 100L,
        Optional.empty[Long], timedOut)
    // idle wake removes the session's state entirely
    val idle = gs(Some(RankRederivation.initialState), timedOut = true)
    val out = RankRederivation.processGroup(Some("1 hour"))(
      "S", Iterator.empty, idle)
    assert(out.isEmpty && idle.isRemoved)
    // a seq at or below the already-applied high-water mark fails fast
    // (late-discovered ingest file) instead of silently corrupting state
    val stale = gs(Some(RankRederivation.initialState.copy(lastSeq = 10L)),
      timedOut = false)
    val ex = intercept[IllegalArgumentException] {
      RankRederivation.processGroup(Some("1 hour"))("S",
        Iterator(RawKeyEvent("S", 5L, "key", Some("a"), Some("a"),
          Some(Seq("x")), None)), stale).toSeq
    }
    assert(ex.getMessage.contains("out-of-order ingest"))
  }

  test("flagship analyze runs incrementally over a stream (complete mode)") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    def ev(rank: Option[Int]) = LogEvent("text_committed",
      "2024-01-01T00:00:00.000Z", Some("x"), None, None, rank,
      Some("x"), None, None)
    val mem = MemoryStream[LogEvent]
    val q = graft.queries.AnalyzeQuery.metricsFrame(mem.toDF())
      .writeStream.format("memory").queryName("analyze_stream")
      .outputMode("complete").start()
    try {
      mem.addData(ev(Some(0)), ev(Some(2)), ev(Some(-1)))
      q.processAllAvailable()
      val r1 = s.table("analyze_stream").head()
      assert(r1.getAs[Long]("total_commits") === 3)
      assert(r1.getAs[Long]("first_choice_count") === 1)
      // the SAME query keeps updating: metrics reflect all input so far
      mem.addData(ev(Some(0)), ev(None))
      q.processAllAvailable()
      val r2 = s.table("analyze_stream").head()
      assert(r2.getAs[Long]("total_commits") === 5)
      assert(r2.getAs[Long]("first_choice_count") === 2)
      // equals the batch computation over the union of both batches
      val batch = graft.queries.AnalyzeQuery.metricsFrame(
        Seq(ev(Some(0)), ev(Some(2)), ev(Some(-1)), ev(Some(0)), ev(None))
          .toDF()).head()
      assert(r2.getAs[Long]("total_selections") ===
        batch.getAs[Long]("total_selections"))
      assert(r2.getAs[Double]("top3_hit_rate") ===
        batch.getAs[Double]("top3_hit_rate"))
    } finally q.stop()
  }

  test("S4/T8: file-source stream round trip with corrupt lines") {
    val inDir = Paths.get(Staged.scratch("graft-stream-in"))
    val outDir = Staged.scratch("graft-stream-out")
    val ckDir = Staged.scratch("graft-stream-ck")
    Files.write(inDir.resolve("log1.jsonl"),
      Fixtures.mixedLog.mkString("\n").getBytes("UTF-8"))
    val stream = EventStream.readJsonlStream(spark, inDir.toString)
      .filter(col("event_type") === "text_committed")
    val q = EventStream.writeJsonlStream(stream, outDir, ckDir)
    try q.processAllAvailable() finally q.stop()
    val back = graft.io.EventLogReader.readJsonl(spark, outDir)
    assert(back.count() === 14)
  }

  test("live analyze metrics update across micro-batches (complete mode)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import graft.model.LogEvent
    val mem = MemoryStream[LogEvent]
    val q = EventStream.streamingAnalyzeMetrics(mem.toDF())
      .writeStream.format("memory").queryName("live_metrics")
      .outputMode("complete").start()
    try {
      val (b1, b2) = Fixtures.commitEvents.splitAt(6)
      mem.addData(b1: _*); q.processAllAvailable()
      val mid = s.table("live_metrics").collect()(0)
      assert(mid.getAs[Long]("total_commits") === 6)
      mem.addData(b2: _*); q.processAllAvailable()
      val fin = s.table("live_metrics").collect()(0)
      // converges to the batch goldens
      assert(fin.getAs[Long]("total_commits") === 14)
      assert(fin.getAs[Long]("total_selections") === 9)
      assert(math.abs(fin.getAs[Double]("average_rank") - 14.0 / 9) < 1e-9)
    } finally q.stop()
  }

  test("T8 exactly-once: restart from checkpoint neither drops nor duplicates") {
    val inDir = Paths.get(Staged.scratch("graft-ck-in"))
    val outDir = Staged.scratch("graft-ck-out")
    val ckDir = Staged.scratch("graft-ck-ck")
    def startQuery() = EventStream.writeJsonlStream(
      EventStream.readJsonlStream(spark, inDir.toString)
        .filter(col("event_type") === "text_committed"),
      outDir, ckDir)
    Files.write(inDir.resolve("a.jsonl"),
      Fixtures.commitLines.take(7).mkString("\n").getBytes("UTF-8"))
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    // new data arrives while the query is down
    Files.write(inDir.resolve("b.jsonl"),
      Fixtures.commitLines.drop(7).mkString("\n").getBytes("UTF-8"))
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    val back = graft.io.EventLogReader.readJsonl(spark, outDir)
    assert(back.count() === 14) // all commits, no duplicates
    assert(back.select("timestamp").distinct().count() === 14)
  }

  test("foreachBatch parquet sink: batch-id directories, complete readback") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val outDir = Staged.scratch("graft-fb-out")
    val ckDir = Staged.scratch("graft-fb-ck")
    val mem = MemoryStream[graft.model.LogEvent]
    val q = EventStream.writeBatchedParquet(mem.toDF(), outDir, ckDir)
    try {
      val (b1, b2) = Fixtures.commitEvents.splitAt(6)
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val back = spark.read.parquet(outDir)
    assert(back.count() === 14)
    assert(back.select("batch_id").distinct().count() === 2)
  }

  test("T1: session-window metrics over event time") {
    val sessions = EventStream.sessionMetrics(
      graft.io.EventLogReader.readJsonl(spark,
        Fixtures.writeJsonl(Fixtures.mixedLog).toString),
      gap = "30 minutes", watermark = "0 seconds")
    val rows = sessions.collect()
    // all fixture commits are within 14s → one session
    assert(rows.length === 1)
    assert(rows.head.getAs[Long]("commits") === 14)
    assert(rows.head.getAs[Long]("selections") === 9)
    assert(rows.head.getAs[Long]("misses") === 5)
  }

  test("streaming exact dedup: in-watermark duplicates dropped, state bounded") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[(String, java.sql.Timestamp)]
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val q = EventStream.dedupStream(
        mem.toDF().toDF("text", "event_time"), "text", "event_time",
        watermark = "10 minutes")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      mem.addData(("alpha", t(0)), ("beta", t(1)), ("alpha", t(2)))
      q.processAllAvailable()
      // duplicate within the watermark window, later micro-batch
      mem.addData(("alpha", t(3)), ("gamma", t(4)))
      q.processAllAvailable()
      val texts = s.table("dedup_stream").collect()
        .map(_.getAs[String]("text")).toSeq
      assert(texts.sorted === Seq("alpha", "beta", "gamma"))
    } finally q.stop()
  }

  test("stream-stream interval join attributes purchases to in-window clicks") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val clicks = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val purchases = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val joined = EventStream.purchaseAttributionStream(
      purchases.toDF().toDF("user_id", "p_time", "purchase_id"),
      clicks.toDF().toDF("c_user_id", "c_time", "click_id"))
    val q = joined.writeStream.format("memory").queryName("attrib")
      .outputMode("append").start()
    try {
      clicks.addData((1L, t(0), 100L), (1L, t(10), 101L), (2L, t(5), 102L))
      q.processAllAvailable()
      // purchase at :20 → click 101 (:10) in window, click 100 (:0)
      // outside the 30-min window? 0:00 is within 30 min of 0:20 → both.
      // user 2's click must not attach to user 1's purchase.
      purchases.addData((1L, t(20), 500L))
      q.processAllAvailable()
      val rows = s.table("attrib").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(rows === Set((500L, 100L), (500L, 101L)))
    } finally q.stop()
  }

  test("page-tracker batch replay equals the sequential walk on " +
    "every prefix (hand fixture with resets and clamping)") {
    val s = spark
    import s.implicits._
    import graft.streaming.{PageEvent, PageTrackReplay}
    // one user exercising clamp-at-zero and a mid-stream reset, plus
    // a second user whose events straddle batch boundaries mid-run
    val evs = Seq(
      PageEvent(1L, 10L, 1L, 1, 0),   // page 1
      PageEvent(1L, 20L, 2L, -1, 0),  // page 0
      PageEvent(1L, 30L, 3L, -1, 0),  // clamped at 0
      PageEvent(1L, 40L, 4L, 1, 0),   // page 1         | batch 1
      PageEvent(1L, 50L, 5L, 0, 1),   // reset -> 0     | batch 1
      PageEvent(1L, 70L, 6L, 1, 0),   // page 1         | batch 2
      PageEvent(2L, 15L, 7L, 1, 0),   // page 1
      PageEvent(2L, 45L, 8L, 1, 0),   // page 2         | batch 1
      PageEvent(2L, 75L, 9L, 1, 0))   // page 3         | batch 2
    def ref(user: Long, upToTs: Long): Long = {
      var page = 0L
      evs.filter(e => e.user_id == user && e.ts <= upToTs)
        .sortBy(e => (e.ts, e.event_id)).foreach { e =>
          if (e.rst == 1) page = 0L
          page = math.max(0L, page + e.d)
        }
      page
    }
    val batches = Seq(0L -> 30L, 31L -> 60L, 61L -> 90L).map {
      case (lo, hi) =>
        evs.filter(e => e.ts >= lo && e.ts <= hi).toDS()
    }
    val snaps = PageTrackReplay.replay(batches)
    val bounds = Seq(30L, 60L, 90L)
    snaps.zip(bounds).foreach { case (snap, hi) =>
      val got = snap.collect().map(p => p.user_id -> p.page).toMap
      val want = Seq(1L, 2L)
        .filter(u => evs.exists(e => e.user_id == u && e.ts <= hi))
        .map(u => u -> ref(u, hi)).toMap
      assert(got === want, s"prefix <= $hi")
    }
    // spot-check the interesting values
    assert(snaps(0).collect().map(p => p.user_id -> p.page).toMap ===
      Map(1L -> 0L, 2L -> 1L)) // user 1 clamped at zero
    assert(snaps(1).collect().map(p => p.user_id -> p.page).toMap ===
      Map(1L -> 0L, 2L -> 2L)) // reset landed
    assert(snaps(2).collect().map(p => p.user_id -> p.page).toMap ===
      Map(1L -> 1L, 2L -> 3L)) // run resumed across the boundary
  }
}
