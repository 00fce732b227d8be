package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.functions.{col, timestamp_micros}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One event on the funnel's input: (user, type, event-time ns). */
final case class FunnelEvent(user_id: Long, event_type: String, ts: Long)

/** A [[FunnelEvent]] carrying its event time as a SQL timestamp too —
  * the watermark API only tracks timestamp-typed columns, so the
  * event-time wirings project `ts` (ns) into `event_time` before
  * `withWatermark` and keep both. */
final case class TimedFunnelEvent(user_id: Long, event_type: String,
                                  ts: Long, event_time: Timestamp)

/** Per-user funnel progress: the first-qualifying timestamp of each
  * completed stage (ns). */
final case class FunnelState(t1: Option[Long], t2: Option[Long],
                             t3: Option[Long])

/** [[FunnelState]] plus a reorder buffer of events still above the
  * watermark, and the event time (ns) of the newest event ever applied
  * (drives event-time idle eviction). */
final case class BufferedFunnelState(core: FunnelState,
                                     buf: Seq[FunnelEvent],
                                     lastAppliedTs: Long)

/** A stage completion emitted downstream. */
final case class StageHit(user_id: Long, stage: String, ts: Long)

/** Streaming form of the q30 sequential funnel (view → click within
  * `deadlineNs` → purchase within `deadlineNs`, first-qualifying):
  * a per-user state machine over `flatMapGroupsWithState`, emitting a
  * [[StageHit]] the moment a user completes a stage — the live-funnel
  * dashboard shape, where the batch query is the daily report.
  *
  * State per user is three optional longs — O(1); for unbounded user
  * populations pass `idleTimeout` to evict idle users (the
  * RankRederivation eviction pattern). Three wirings, by delivery
  * contract:
  *
  *   - [[stageHits]]: in-order delivery, processing-time eviction.
  *     Events are sorted WITHIN each micro-batch; an event arriving a
  *     batch after a later-timestamped one is mis-ordered.
  *   - [[stageHitsEventTime]]: in-order delivery, EVENT-time eviction —
  *     a user is evicted when the watermark (not the wall clock)
  *     passes their last event plus the TTL, so eviction shares the
  *     deadline's time axis.
  *   - [[stageHitsBuffered]]: tolerates CROSS-BATCH disorder up to the
  *     watermark delay. Each event waits in per-user state until the
  *     watermark passes it (all earlier events have then arrived, by
  *     the watermark contract — StreamAsOfJoin's maturation pattern),
  *     then the matured prefix is applied in event-time order. Under
  *     any delivery order whose lateness the watermark covers, the
  *     emitted stage sets match the batch query exactly
  *     (FunnelStreamSpec proves this differentially on a shuffled
  *     feed of the driver fixtures). */
object FunnelStream {

  val HourNs: Long = 3600L * 1000 * 1000 * 1000

  /** Hard cap on events per user per micro-batch: the in-batch sort
    * (and the reorder buffer) materialize the group in executor
    * memory, so batch size MUST be bounded upstream
    * (`maxFilesPerTrigger` / rate limiting — a human funnel emits
    * events at human rate, so any sane trigger interval sits orders
    * of magnitude below this). Failing fast beats an executor OOM
    * mid-batch. Same contract as
    * [[RankRederivation.MaxBatchEventsPerSession]]. */
  val MaxBatchEventsPerUser: Int = 1 << 20

  private def boundedBatch(user: Long,
                           events: Iterator[FunnelEvent]): Seq[FunnelEvent] = {
    val buf = events.take(MaxBatchEventsPerUser + 1).toSeq
    require(buf.size <= MaxBatchEventsPerUser,
      s"user $user exceeded $MaxBatchEventsPerUser events in one " +
        "micro-batch; bound the trigger (maxFilesPerTrigger / rate " +
        "limit) so per-user batches fit in executor memory")
    buf
  }

  /** The funnel transition for ONE event — shared by every wiring so
    * their semantics cannot drift. Strictly-after ordering and the
    * per-stage deadline are both enforced here. */
  private def applyEvent(st: FunnelState, e: FunnelEvent,
                         deadlineNs: Long): (FunnelState, Option[StageHit]) =
    e.event_type match {
      case "view" if st.t1.isEmpty =>
        (st.copy(t1 = Some(e.ts)),
          Some(StageHit(e.user_id, "1_view", e.ts)))
      case "click" if st.t1.nonEmpty && st.t2.isEmpty &&
          e.ts > st.t1.get && e.ts < st.t1.get + deadlineNs =>
        (st.copy(t2 = Some(e.ts)),
          Some(StageHit(e.user_id, "2_click", e.ts)))
      case "purchase" if st.t2.nonEmpty && st.t3.isEmpty &&
          e.ts > st.t2.get && e.ts < st.t2.get + deadlineNs =>
        (st.copy(t3 = Some(e.ts)),
          Some(StageHit(e.user_id, "3_purchase", e.ts)))
      case _ => (st, None)
    }

  /** In-order micro-batch fold: sort, then thread [[applyEvent]] —
    * the one transition — through every event. Returns the new state,
    * the emitted hits, and the newest applied event time (for
    * event-time eviction arming). Shared by [[processUser]],
    * [[processUserEventTime]], AND the batch [[replayStageHits]], so
    * the streaming and replay semantics cannot drift. */
  private[graft] def foldInOrder(user: Long, st0: FunnelState,
                                 events: Iterator[FunnelEvent],
                                 deadlineNs: Long)
      : (FunnelState, Seq[StageHit], Option[Long]) = {
    var st = st0
    val hits = scala.collection.mutable.Buffer[StageHit]()
    val batch = boundedBatch(user, events).sortBy(_.ts)
    batch.foreach { e =>
      val (next, hit) = applyEvent(st, e, deadlineNs)
      st = next
      hits ++= hit
    }
    (st, hits.toSeq, batch.lastOption.map(_.ts))
  }

  /** The per-user step function — pure, unit-testable through
    * `TestGroupState`, shared by the streaming wiring. With an
    * `idleTimeout`, a user idle past it is evicted on the timeout
    * wake (the RankRederivation eviction pattern — state for an
    * unbounded user population must not grow forever). */
  def processUser(user: Long, events: Iterator[FunnelEvent],
                  state: GroupState[FunnelState], deadlineNs: Long,
                  idleTimeout: Option[String] = None): Iterator[StageHit] = {
    if (state.hasTimedOut) {
      state.remove()
      return Iterator.empty
    }
    val st0 = state.getOption.getOrElse(FunnelState(None, None, None))
    val (st, hits, _) = foldInOrder(user, st0, events, deadlineNs)
    state.update(st)
    // the duration string was validated at query construction (see
    // stageHits); the only legitimate failure left is a state with no
    // timeout configured — the TestGroupState unit-test harness — so
    // only that case is swallowed. A real failure propagates.
    idleTimeout.foreach { d =>
      try state.setTimeoutDuration(d)
      catch { case _: UnsupportedOperationException => () }
    }
    hits.iterator
  }

  /** Wire the step function over a (possibly streaming) event set.
    * `idleTimeout` (e.g. `Some("1 hour")`) turns on per-user state
    * eviction for unbounded user populations; the duration is
    * validated HERE, at query construction — a malformed TTL must
    * fail the query, not silently disable eviction. */
  def stageHits(events: Dataset[FunnelEvent],
                deadlineNs: Long = HourNs,
                idleTimeout: Option[String] = None): Dataset[StageHit] = {
    idleTimeout.foreach(Durations.toMillis)
    implicit val stateEnc = Encoders.product[FunnelState]
    implicit val outEnc = Encoders.product[StageHit]
    val conf = idleTimeout
      .map(_ => GroupStateTimeout.ProcessingTimeTimeout())
      .getOrElse(GroupStateTimeout.NoTimeout)
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append, conf)(
        (u: Long, it: Iterator[FunnelEvent],
         s: GroupState[FunnelState]) =>
          processUser(u, it, s, deadlineNs, idleTimeout))
  }

  /** Event-time step: identical funnel semantics to [[processUser]],
    * but eviction is armed on the EVENT-time axis — the timeout
    * timestamp is the user's newest event plus `idleNs`, so a user is
    * evicted when the WATERMARK (not the wall clock) passes that
    * point. Under processing-time eviction a user idle past the TTL
    * loses mid-funnel progress measured in wall-clock even while the
    * stream itself is stalled; event-time eviction only fires once
    * the stream has provably moved `idleNs` past them, matching the
    * deadline's time axis. */
  def processUserEventTime(user: Long, events: Iterator[FunnelEvent],
                           state: GroupState[FunnelState],
                           deadlineNs: Long,
                           idleNs: Long): Iterator[StageHit] = {
    if (state.hasTimedOut) {
      state.remove()
      return Iterator.empty
    }
    val st0 = state.getOption.getOrElse(FunnelState(None, None, None))
    val (st, hits, lastTs) = foldInOrder(user, st0, events, deadlineNs)
    state.update(st)
    // batch mode (differential tests) has no watermark: Try guards
    // only that harness; in the streaming wiring the watermark always
    // exists because stageHitsEventTime sets one
    val w = scala.util.Try(state.getCurrentWatermarkMs()).toOption
    w.foreach { wm =>
      val lastMs = lastTs.map(_ / 1000000L).getOrElse(wm)
      // must arm strictly above the watermark or Spark rejects it
      state.setTimeoutTimestamp(
        math.max(lastMs + idleNs / 1000000L, wm + 1))
    }
    hits.iterator
  }

  private def withEventTime(events: Dataset[FunnelEvent],
                            delay: String): Dataset[TimedFunnelEvent] = {
    implicit val enc = Encoders.product[TimedFunnelEvent]
    events
      .select(col("user_id"), col("event_type"), col("ts"),
        timestamp_micros((col("ts") / 1000L).cast("long"))
          .as("event_time"))
      .as[TimedFunnelEvent]
      .withWatermark("event_time", delay)
  }

  /** [[stageHits]] with event-time eviction: a user is dropped when
    * the watermark passes their newest event plus `idleTtl`. `delay`
    * is the watermark delay (lateness tolerance for the watermark
    * itself; this wiring still assumes in-order delivery per user —
    * use [[stageHitsBuffered]] when delivery can reorder). */
  def stageHitsEventTime(events: Dataset[FunnelEvent],
                         deadlineNs: Long = HourNs,
                         delay: String = "10 seconds",
                         idleTtl: String = "1 hour"): Dataset[StageHit] = {
    val idleNs = Durations.toMillis(idleTtl) * 1000000L
    implicit val stateEnc = Encoders.product[FunnelState]
    implicit val outEnc = Encoders.product[StageHit]
    withEventTime(events, delay)
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(
        (u: Long, it: Iterator[TimedFunnelEvent],
         s: GroupState[FunnelState]) =>
          processUserEventTime(u,
            it.map(e => FunnelEvent(e.user_id, e.event_type, e.ts)),
            s, deadlineNs, idleNs))
  }

  /** Upper bound on the per-user reorder buffer: events wait at most
    * the watermark delay, so the buffer holds at most
    * (per-user event rate × delay) rows — for human-scale funnels and
    * sane delays that is tiny; this cap is the fail-fast backstop for
    * a misconfigured pipeline (e.g. a days-long delay over a bot
    * user), same philosophy as [[MaxBatchEventsPerUser]]. */
  val MaxBufferedEventsPerUser: Int = 1 << 20

  /** Watermark-buffered step (StreamAsOfJoin's maturation pattern):
    * incoming events JOIN a per-user buffer; only the prefix at or
    * below the watermark is applied (in event-time order — every
    * earlier event has arrived, by the watermark contract), the rest
    * wait. A timeout wake flushes newly-matured events even when the
    * user gets no new data; a user whose buffer is empty and whose
    * last applied event is `idleNs` below the watermark is evicted. */
  def processUserBuffered(user: Long, events: Iterator[FunnelEvent],
                          state: GroupState[BufferedFunnelState],
                          deadlineNs: Long,
                          idleNs: Long): Iterator[StageHit] = {
    // batch mode has no watermark: everything matures immediately
    val wMs = scala.util.Try(state.getCurrentWatermarkMs())
      .getOrElse(Long.MaxValue)
    val wNs =
      if (wMs == Long.MaxValue) Long.MaxValue else wMs * 1000000L
    val st = state.getOption.getOrElse(
      BufferedFunnelState(FunnelState(None, None, None), Nil,
        Long.MinValue))
    val incoming = boundedBatch(user, events)
    val all = st.buf ++ incoming
    require(all.size <= MaxBufferedEventsPerUser,
      s"user $user has ${all.size} buffered events (cap " +
        s"$MaxBufferedEventsPerUser); the watermark delay is too long " +
        "for this user's event rate — shorten the delay or pre-filter")
    val (mature, wait) = all.partition(_.ts <= wNs)
    val hits = scala.collection.mutable.Buffer[StageHit]()
    var core = st.core
    var lastApplied = st.lastAppliedTs
    mature.sortBy(_.ts).foreach { e =>
      val (next, hit) = applyEvent(core, e, deadlineNs)
      core = next
      hits ++= hit
      lastApplied = math.max(lastApplied, e.ts)
    }
    val idle = wait.isEmpty && lastApplied != Long.MinValue &&
      wNs != Long.MaxValue && lastApplied + idleNs <= wNs
    if ((state.hasTimedOut || incoming.isEmpty) && idle &&
        hits.isEmpty) {
      state.remove()
    } else {
      state.update(BufferedFunnelState(core, wait.sortBy(_.ts),
        lastApplied))
      if (wMs != Long.MaxValue) {
        // wake when the earliest waiting event matures (to flush it
        // without requiring new data for this user), else when the
        // idle TTL expires
        val target = wait.headOption.map(_.ts / 1000000L)
          .getOrElse(
            if (lastApplied == Long.MinValue) wMs + idleNs / 1000000L
            else lastApplied / 1000000L + idleNs / 1000000L)
        state.setTimeoutTimestamp(math.max(target, wMs + 1))
      }
    }
    hits.iterator
  }

  /** Funnel over a stream whose delivery may reorder events ACROSS
    * micro-batches, as long as lateness stays within `delay`. Exact
    * under that contract: each event is applied only once the
    * watermark proves no earlier event is still in flight. The price
    * is latency (a hit is emitted up to `delay` after its event) and
    * a bounded per-user buffer — the standard watermark trade. */
  def stageHitsBuffered(events: Dataset[FunnelEvent],
                        deadlineNs: Long = HourNs,
                        delay: String = "1 hour",
                        idleTtl: String = "24 hours"): Dataset[StageHit] = {
    val idleNs = Durations.toMillis(idleTtl) * 1000000L
    implicit val stateEnc = Encoders.product[BufferedFunnelState]
    implicit val outEnc = Encoders.product[StageHit]
    withEventTime(events, delay)
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(
        (u: Long, it: Iterator[TimedFunnelEvent],
         s: GroupState[BufferedFunnelState]) =>
          processUserBuffered(u,
            it.map(e => FunnelEvent(e.user_id, e.event_type, e.ts)),
            s, deadlineNs, idleNs))
  }

  /** Batch REPLAY of the streaming funnel — the driver-visible
    * correctness form of [[stageHits]] (the q56/q66/d41 replay
    * convention): the event set arrives as K per-user-in-order
    * batches; each batch folds the standing per-user state forward
    * through a typed cogroup running the SAME [[foldInOrder]] /
    * [[applyEvent]] transition as the streaming wirings, and emits
    * that batch's stage hits. With time-contiguous batches the
    * concatenated emissions over batches 0..b equal the one-shot
    * batch funnel (q30) over the same prefix — the in-order fold
    * composes — which is the invariant the q71 oracle pins.
    *
    * Shape at scale: state and batch cogroup on user_id — both sides
    * shuffle user-keyed, state is one tiny row per user, NOTHING
    * lives on the driver. Each batch's fold result is
    * localCheckpointed once and feeds both its consumers (the carried
    * state and the emitted hits); a long-lived deployment would stage
    * the state as a user-bucketed table instead
    * ([[graft.io.TableLayout.writeBucketed]]). */
  def replayStageHits(batches: Seq[Dataset[FunnelEvent]],
                      deadlineNs: Long = HourNs): Seq[Dataset[StageHit]] = {
    require(batches.nonEmpty, "need at least one batch")
    val spark = batches.head.sparkSession
    implicit val pairEnc = Encoders.product[(Long, FunnelState)]
    implicit val foldEnc =
      Encoders.product[(Long, FunnelState, Seq[StageHit])]
    implicit val hitEnc = Encoders.product[StageHit]
    var state = spark.emptyDataset[(Long, FunnelState)](pairEnc)
    batches.map { b =>
      val folded = state.groupByKey(_._1)(Encoders.scalaLong)
        .cogroup(b.groupByKey(_.user_id)(Encoders.scalaLong)) {
          (user, sts, evs) =>
            val st0 =
              if (sts.hasNext) sts.next()._2
              else FunnelState(None, None, None)
            val (st1, hits, _) = foldInOrder(user, st0, evs, deadlineNs)
            Iterator((user, st1, hits))
        }.localCheckpoint()
      state = folded.map(r => (r._1, r._2))(pairEnc)
      folded.flatMap(_._3)(hitEnc)
    }
  }
}
