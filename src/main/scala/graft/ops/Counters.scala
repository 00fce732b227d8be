package graft.ops

import org.apache.spark.sql.Observation

/** Process-wide registry of in-plan Observation counters, so the
  * numbers that EXPLAIN a query's cost (candidate volumes, per-stage
  * keep counts) land in the benchmark artifact itself rather than in a
  * builder's self-run notes.
  *
  * Why this exists: three rounds running, locally-measured timings and
  * the driver's bench artifact disagreed on specific queries, and the
  * adjudication each time was "put counters in the plan" — an
  * Observation rides the query's own action as accumulators (no extra
  * jobs), so whatever run produced the artifact also produced the
  * counters. Instrumented pipelines register here; the bench main
  * drains after each timed query and prints one `[counters]` line per
  * instrumented query next to the `[bench]` timing lines, plus a
  * "counters" object in the full-result JSON. A registered observation
  * that never fires (its query failed, or a spec built the frame
  * without acting on it) is silently dropped by the non-blocking
  * drain — never a hang.
  *
  * House rule (round 8 verdict): every new composition entry ships
  * with counters from day one, through this registry.
  */
object Counters {
  private final case class Entry(tag: String, label: String,
                                 obs: Observation)

  /** Bound on undrained observations and on undrained notes: both are
    * added unconditionally from library operators, and a long-running
    * process that never drains (only the bench main does; perfbench,
    * the CLI and the test JVM never do) must not leak — beyond the cap
    * the OLDEST are dropped (the artifact wants the latest run's
    * numbers anyway). */
  val MaxUndrainedNotes: Int = 1024

  /** FIFO that drops its oldest element beyond [[MaxUndrainedNotes]]. */
  private final class Capped[A <: AnyRef] {
    private val q = new java.util.concurrent.ConcurrentLinkedQueue[A]
    private val n = new java.util.concurrent.atomic.AtomicInteger(0)
    def add(a: A): Unit = {
      q.add(a)
      if (n.incrementAndGet() > MaxUndrainedNotes && q.poll() != null)
        n.decrementAndGet()
    }
    def drainAll(): Vector[A] = {
      val v = Iterator.continually(q.poll()).takeWhile(_ != null).toVector
      n.addAndGet(-v.size)
      v
    }
  }

  private val reg = new Capped[Entry]
  private val notes = new Capped[(String, String, Map[String, Any])]

  /** Register `obs` under `tag` (the query/pipeline name) and `label`
    * (the stage). Returns `obs` for inline use. */
  def register(tag: String, label: String, obs: Observation): Observation = {
    reg.add(Entry(tag, label, obs))
    obs
  }

  /** DRIVER-LOOP counter: for operators whose cost driver is a
    * driver-side iteration (the exact-selection narrowing rounds, a
    * convergence loop) rather than an in-plan row count — an
    * Observation cannot ride those, but the numbers belong in the
    * bench artifact for the same reason (a drifted timing must be
    * adjudicable from the artifact alone: rounds grew → data shape;
    * rounds flat but time up → the plan or the suite). Drained
    * together with the observations; same keep-last dedup, so an
    * operator noted in both of a bench's timed runs reports once. */
  def note(tag: String, label: String,
           values: Map[String, Any]): Unit = {
    notes.add((tag, label, values))
  }

  /** Non-blocking drain: every registered observation that has FIRED,
    * as (tag, label, metric → value) in registration order; unfired
    * ones are dropped. Clears the registry either way. Re-registrations
    * of the same (tag, label) — e.g. the bench's two timed runs —
    * dedupe to the LAST fired instance. */
  def drain(): Seq[(String, String, Map[String, Any])] = {
    val items = reg.drainAll()
    // bounded-wait read (getOrEmpty is private[sql]): the observation
    // listener fires ASYNCHRONOUSLY after the action returns, so a
    // drain immediately after .count() can race it — wait up to 250 ms
    // TOTAL on one combined future (Spark's own getOrEmpty waits
    // 100 ms), then read whatever has landed. One shared deadline, not
    // 250 ms per entry: a run that registers N observations whose
    // queries never executed (a failed query, a spec that built frames
    // without acting) would otherwise stall the drain by N·250 ms
    // (round-9 advice).
    val pendingF = items.map(_.obs.future).filterNot(_.isCompleted)
    if (pendingF.nonEmpty) {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.global
      try scala.concurrent.Await.ready(
        scala.concurrent.Future.sequence(pendingF.toList),
        scala.concurrent.duration.Duration(250, "ms"))
      catch { case _: java.util.concurrent.TimeoutException => }
    }
    val fired: Vector[(String, String, Map[String, Any])] =
      items.flatMap { e =>
        e.obs.future.value.flatMap(_.toOption).map { row =>
          val m: Map[String, Any] =
            row.schema.fieldNames.zip(row.toSeq).toMap
          (e.tag, e.label, m)
        }
      }
    val noted = notes.drainAll()
    // keep last per (tag, label), preserve first-seen order
    val all = fired ++ noted
    val last = all.map { case (t, l, m) => (t, l) -> m }.toMap
    all.map { case (t, l, _) => (t, l) }.distinct
      .map { case (t, l) => (t, l, last((t, l))) }
  }
}
