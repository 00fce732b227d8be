package graft.pipeline

import org.apache.spark.sql.DataFrame

import graft.ops.Counters

/** The one round loop of the graph family: every iterative operator
  * of [[GraphOps]] and [[Dedup.connectedComponents]] hands this
  * driver its state, its step, its stop test and a `pinEvery`
  * constant, and the driver owns four rules, written once (PLANS.md
  * "Graph iteration: one driver"):
  *
  *  - ROUNDS. Round r runs `step(state, r)` for r = 1, 2, … up to the
  *    cap; a fixed-round operator's cap is its round count.
  *  - PIN. After every `pinEvery`-th round the new state is pinned with
  *    a LAZY `localCheckpoint(false)` ([[pin]]), never after the cap
  *    round (nothing downstream of the loop re-reads it as lineage).
  *    `pinEvery` states how fast the operator's plan grows: an iterated
  *    self-referencing plan re-walked by the optimizer every round
  *    blows up (PLANS.md "Iterated self-referencing plans blow up").
  *  - STOP. The stop test runs only on pinned rounds and on the cap
  *    round, so it reads the state the pin just marked and its one
  *    action materializes the pin too — the test is folded into the
  *    barrier instead of adding one. A test is a one-row, one-boolean
  *    frame; the driver fetches it with one `head()`, so a check costs
  *    one action whatever the operator.
  *  - NOTE. One `Counters.note(label, "loop", …)` per run: rounds,
  *    cap, whether the stop test fired, and the number of checks. */
private[pipeline] object Rounds {

  /** How a loop's state is pinned: each frame it carries through
    * [[pin]]. A bare frame is its own instance; a multi-frame state
    * supplies one that pins every member. */
  trait Pin[S] { def apply(s: S): S }

  object Pin {
    implicit val frame: Pin[DataFrame] = pin(_)
  }

  /** The pin itself. Lazy: no job of its own at the call; the next
    * action over the state (a stop test, the following round's or the
    * caller's) fills the checkpoint as a side effect. Under AQE the
    * plan's shuffle map stages still run when the pin is taken. */
  def pin(df: DataFrame): DataFrame = df.localCheckpoint(false)

  /** One driven run: the last state, the rounds it took, whether the
    * stop test fired (false for a fixed-round run, and for a run that
    * reached its cap unstopped), and how many stop checks ran. */
  final case class Run[S](state: S, rounds: Int, stopped: Boolean,
                          checks: Int)

  /** A fixed-round loop: exactly `rounds` steps, no stop test. */
  def fixed[S](label: String, rounds: Int, pinEvery: Int, init: S)(
      step: (S, Int) => S)(implicit p: Pin[S]): S =
    drive(label, rounds, pinEvery, init, step, None).state

  /** A stopped loop: at most `cap` steps; `stop(prev, next, r)` is a
    * one-row, one-boolean frame, true when `next` (round r's state) is
    * the answer. */
  def until[S](label: String, cap: Int, pinEvery: Int, init: S)(
      step: (S, Int) => S)(stop: (S, S, Int) => DataFrame)(
      implicit p: Pin[S]): Run[S] =
    drive(label, cap, pinEvery, init, step, Some(stop))

  private def drive[S](label: String, cap: Int, pinEvery: Int, init: S,
                       step: (S, Int) => S,
                       stop: Option[(S, S, Int) => DataFrame])(
      implicit p: Pin[S]): Run[S] = {
    require(cap >= 1, s"$label: round cap must be >= 1 (got $cap)")
    require(pinEvery >= 1, s"$label: pinEvery must be >= 1")
    var state = init
    var r = 0
    var stopped = false
    var checks = 0
    while (!stopped && r < cap) {
      r += 1
      val pinned = r % pinEvery == 0 && r < cap
      val next = if (pinned) p(step(state, r)) else step(state, r)
      if (pinned || r == cap) stop.foreach { test =>
        checks += 1
        stopped = test(state, next, r).head().getBoolean(0)
      }
      state = next
    }
    Counters.note(label, "loop", Map("rounds" -> r.toLong,
      "cap" -> cap.toLong, "stopped" -> stopped, "checks" -> checks.toLong))
    Run(state, r, stopped, checks)
  }
}
