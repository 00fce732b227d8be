package graft.streaming

import graft.model.LogEvent
import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** A raw producer-side event, before the producer's derivations: one row
  * per keypress (`input_state_changed`-shaped) or commit notification.
  * `seq` is the per-session arrival order (the producer is a single
  * ordered writer per session — SURVEY §3.4). */
final case class RawKeyEvent(
    session_id: String,
    seq: Long,
    kind: String,                    // "key" | "commit"
    key_repr: Option[String],        // for kind=key
    input_buffer: Option[String],
    candidates: Option[Seq[String]], // visible menu (≤5), None = no menu
    committed_text: Option[String],  // for kind=commit
    // explicit menu-visibility flag mirroring the lua's `has_menu`
    // (`input_habit_logger.lua:356`): the producer keys the snapshot
    // branch off this flag alone, so a has_menu event with an empty
    // candidate list must still take the menu branch. None (legacy
    // rows) falls back to candidate-list non-emptiness.
    has_menu: Option[Boolean] = None)

/** A re-derived commit, matching what the producer would have logged. */
final case class DerivedCommit(
    session_id: String,
    seq: Long,
    committed_text: String,
    input_sequence_at_commit: String,
    selected_candidate_rank: Int,
    selection_method: String,
    source_input_buffer: Option[String],
    source_first_candidate: Option[String])

/** Mutable-per-key state: the producer's `last_input_state_for_commit`
  * snapshot + page tracker (`input_habit_logger.lua:184-186`,
  * `:309-317`, `:356-381`).
  *
  * `trackerPage` mirrors the lua's `current_page_index`, which is NOT
  * reset when the menu closes — only the snapshot's page
  * (`snapPage`) zeroes then (`lua:370`). Re-opening the menu on the
  * same buffer resumes at the tracked page. */
final case class SnapshotState(
    lastSeenBuffer: Option[String],
    trackerPage: Int,
    snapBuffer: Option[String],
    snapCandidates: Option[Seq[String]],
    snapPage: Int,
    pendingKey: Option[String],
    // highest seq already applied — guards the single-ordered-writer
    // precondition across micro-batches (a file discovered late would
    // otherwise replay older events on top of newer state, silently)
    lastSeq: Long = -1L)

/** SURVEY §2.6 T2-T4: re-derive `selected_candidate_rank` and
  * `selection_method` from the raw keypress stream, as a keyed state
  * machine over `flatMapGroupsWithState` — the Spark-native form of the
  * producer's two shared-state callbacks.
  *
  * Scale posture: state is one tiny snapshot per live session key;
  * sessions are independent, so the stream partitions by session_id and
  * parallelizes across executors. Works identically over a bounded
  * Dataset (tests, backfill) via the same function.
  */
object RankRederivation {

  private val NavKeys = Map("Page_Down" -> 1, "Next" -> 1,
    "Page_Up" -> -1, "Prev" -> -1)

  val initialState: SnapshotState =
    SnapshotState(None, 0, None, None, 0, None, -1L)

  /** One event through the producer state machine
    * (`input_habit_logger.lua:283-395` keypress path, `:215-278` commit
    * path). Returns the updated state and an optional derived commit. */
  def step(state: SnapshotState, e: RawKeyEvent)
      : (SnapshotState, Option[DerivedCommit]) = e.kind match {
    case "key" =>
      // page tracking (lua:309-317): reset on buffer change, then nav keys
      val pageAfterReset =
        if (e.input_buffer != state.lastSeenBuffer) 0 else state.trackerPage
      val page = e.key_repr.flatMap(NavKeys.get) match {
        case Some(delta) => math.max(0, pageAfterReset + delta)
        case None        => pageAfterReset
      }
      val hasMenu = e.has_menu.getOrElse(e.candidates.exists(_.nonEmpty))
      // snapshot update (lua:356-381); the tracker keeps its page on
      // menu close, only the snapshot page zeroes (lua:370)
      // the lua derives current_input_buffer with an "N/A" fallback
      // (lua:294-306) and stores it UNCONDITIONALLY on every keypress,
      // so after the first keypress the snapshot buffer is never nil —
      // `direct_commit_no_menu` (lua:261-263) means "no keypress ever",
      // not "keypress without a buffer field"
      val snapBuf = Some(e.input_buffer.getOrElse("N/A"))
      val snap =
        if (hasMenu)
          state.copy(lastSeenBuffer = e.input_buffer, trackerPage = page,
            snapBuffer = snapBuf, snapCandidates = e.candidates,
            snapPage = page,
            pendingKey = e.key_repr.filter(k =>
              k == "space" || k.matches("^[1-9]$")))
        else
          state.copy(lastSeenBuffer = e.input_buffer, trackerPage = page,
            snapBuffer = snapBuf, snapCandidates = None,
            snapPage = 0,
            pendingKey = None)
      (snap, None)

    case "commit" =>
      val committed = e.committed_text.getOrElse("N/A")
      val page = state.snapPage
      // rank derivation (lua:226-252)
      val rank = state.pendingKey match {
        case Some("space") =>
          val local = state.snapCandidates.getOrElse(Nil).indexOf(committed)
          if (local >= 0) page * LogEvent.PageSize + local
          else page * LogEvent.PageSize
        case Some(d) if d.matches("^[1-9]$") =>
          page * LogEvent.PageSize + (d.toInt - 1)
        case _ => -1
      }
      // selection method (lua:254-263)
      val method = state.pendingKey match {
        case Some("space") =>
          if (rank == 0) LogEvent.FirstChoiceSpace else LogEvent.NthChoiceSpace
        case Some(d) if d.matches("^[1-9]$") => s"nth_choice_number_$d"
        case _ =>
          if (state.snapBuffer.isEmpty) LogEvent.DirectCommitNoMenu
          else LogEvent.Unknown
      }
      val out = DerivedCommit(e.session_id, e.seq, committed,
        state.snapBuffer.getOrElse("N/A"), rank, method,
        state.snapBuffer, state.snapCandidates.flatMap(_.headOption))
      // pending key cleared after commit (lua:277)
      (state.copy(pendingKey = None), Some(out))

    case _ => (state, None)
  }

  /** Hard cap on events per session per micro-batch: the in-batch seq
    * sort materializes the group in executor memory, so the batch size
    * MUST be bounded upstream (`maxFilesPerTrigger` / rate limiting —
    * one IME session emits a few keys per second, so any sane trigger
    * interval sits orders of magnitude below this). Failing fast beats
    * an executor OOM mid-batch. */
  val MaxBatchEventsPerSession: Int = 1 << 20

  private[graft] def processGroup(idleTimeout: Option[String])(
      sessionId: String, events: Iterator[RawKeyEvent],
      groupState: GroupState[SnapshotState]): Iterator[DerivedCommit] = {
    // idle-session eviction: sessions end (or die) without a marker the
    // consumer can rely on, so state for a session with no events for
    // `idleTimeout` is dropped — without this the store grows with
    // every session_id ever seen
    if (groupState.hasTimedOut) {
      groupState.remove()
      return Iterator.empty
    }
    var st = groupState.getOption.getOrElse(initialState)
    // the producer is an ordered single writer per session; restore that
    // order within the micro-batch (bounded — see MaxBatchEventsPerSession)
    val buf = events.take(MaxBatchEventsPerSession + 1).toSeq
    require(buf.size <= MaxBatchEventsPerSession,
      s"session $sessionId exceeded $MaxBatchEventsPerSession events in " +
        "one micro-batch; bound the trigger (maxFilesPerTrigger / rate " +
        "limit) so per-session batches fit in executor memory")
    val sorted = buf.sortBy(_.seq)
    // cross-batch ordering is a PRECONDITION, not an assumption: an
    // ingest file discovered late would replay older seqs on top of
    // newer state and silently corrupt every derivation after it
    sorted.headOption.foreach { first =>
      require(first.seq > st.lastSeq,
        s"session $sessionId: seq ${first.seq} arrived after state " +
          s"already applied seq ${st.lastSeq} — out-of-order ingest " +
          "across micro-batches (late-discovered file?)")
    }
    val out = sorted.flatMap { e =>
      val (next, commit) = step(st, e)
      st = next
      commit
    }
    groupState.update(
      sorted.lastOption.fold(st)(last => st.copy(lastSeq = last.seq)))
    // re-arm the idle clock on every batch with data for this session;
    // Try: batch execution accepts-or-ignores the call, never fails the job
    idleTimeout.foreach(d =>
      scala.util.Try(groupState.setTimeoutDuration(d)))
    out.iterator
  }

  /** Streaming (or batch) re-derivation keyed by session.
    *
    * `sessionIdleTimeout = Some("1 hour")` evicts the state of
    * sessions idle that long (processing time) — REQUIRED for
    * long-running deployments, or the store grows with every
    * session_id ever seen. It stays opt-in because a
    * processing-time-timeout query schedules its own wake-up batches,
    * which breaks `processAllAvailable`-style deterministic tests and
    * is pointless for bounded backfills. */
  def deriveCommits(events: Dataset[RawKeyEvent],
                    sessionIdleTimeout: Option[String] = None)
      : Dataset[DerivedCommit] = {
    import events.sparkSession.implicits._
    val conf = sessionIdleTimeout
      .map(_ => GroupStateTimeout.ProcessingTimeTimeout())
      .getOrElse(GroupStateTimeout.NoTimeout())
    events.groupByKey(_.session_id)
      .flatMapGroupsWithState(OutputMode.Append(), conf)(
        processGroup(sessionIdleTimeout))
  }
}

/** One page-tracker input: a delta (nav key direction) and a reset
  * flag (buffer change / session start), pre-derived from the event
  * row — the T3 state machine's minimal alphabet. */
final case class PageEvent(user_id: Long, ts: Long, event_id: Long,
                           d: Int, rst: Int)

/** A user's tracked page after a batch. */
final case class PageSnapshot(user_id: Long, page: Long)

/** Batch REPLAY of the T3 page tracker (the q56/q66/d41/q71 replay
  * convention applied to the RankRederivation family): the tracked
  * page is the clamped walk `page = max(page + d, 0)`, reset to 0 on
  * `rst` — exactly `RankRederivation.step`'s page logic in the
  * events-table dialect that t3_page_track pins with its
  * reflection-identity window oracle (s − min(0, min s) within reset
  * runs). Folding the walk batch-by-batch through a keyed cogroup
  * just SPLITS the sequential walk at the batch boundaries, so the
  * carried state after batches 0..b must equal the one-shot window
  * form over the prefix — the invariant q72 pins per prefix.
  *
  * Shape at scale: state is one (user, page) row per user seen,
  * cogrouped user-keyed with each batch — no driver state; each
  * batch's fold localCheckpoints once for its two consumers (carried
  * state and the emitted snapshot). */
object PageTrackReplay {
  def replay(batches: Seq[Dataset[PageEvent]])
      : Seq[Dataset[PageSnapshot]] = {
    require(batches.nonEmpty, "need at least one batch")
    val spark = batches.head.sparkSession
    implicit val snapEnc = Encoders.product[PageSnapshot]
    var state = spark.emptyDataset[PageSnapshot](snapEnc)
    batches.map { b =>
      val folded = state.groupByKey(_.user_id)(Encoders.scalaLong)
        .cogroup(b.groupByKey(_.user_id)(Encoders.scalaLong)) {
          (u, sts, evs) =>
            var page = if (sts.hasNext) sts.next().page else 0L
            evs.toSeq.sortBy(e => (e.ts, e.event_id)).foreach { e =>
              if (e.rst == 1) page = 0L
              page = math.max(0L, page + e.d)
            }
            Iterator(PageSnapshot(u, page))
        }.localCheckpoint()
      state = folded
      folded
    }
  }
}
