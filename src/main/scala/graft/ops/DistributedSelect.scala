package graft.ops

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** EXACT distributed selection (k-th smallest / exact quantiles)
  * without a global sort — the classic iterative range-narrowing
  * scheme (Blum-style selection re-expressed for a cluster):
  *
  *   1. one aggregation pass counts rows per equi-width cell over the
  *      current [lo, hi] candidate range (B cells — a B-row result,
  *      never data on the driver);
  *   2. the cell containing the running k-th is found driver-side from
  *      those B counts; [lo, hi] narrows to that cell, k adjusts by
  *      the mass below it;
  *   3. repeat until the candidate cell holds ≤ `threshold` rows, then
  *      ONE bounded pass resolves the exact value: the running weight
  *      over the surviving rows, first crossing of k.
  *
  * Each round is a full scan with a pushable range predicate and a
  * tiny aggregate — no shuffle of data rows, no window, nothing
  * data-sized on the driver. Rounds are log_B(n/threshold): 4 scans
  * reach the exact median of 10^12 rows at B = 128 — versus the
  * O(n log n) global sort an `ORDER BY ... LIMIT k OFFSET` plans. The
  * answer is a VALUE of the column (the k-th order statistic of the
  * multiset), so tie order cannot affect it and both engines agree
  * bit-for-bit with no interpolation convention.
  *
  * Nulls and NaNs are excluded (order statistics over the comparable
  * values — the quantile convention every SQL engine shares).
  * ±Infinity IS comparable and stays in the multiset: its masses are
  * counted in the head pass and resolved directly, so infinite
  * endpoints never enter the equi-width cell arithmetic.
  *
  * Every operator below is a thin call into ONE engine, [[narrow]]: a
  * call without a group column is one literal group, a call without a
  * weight column weighs every row 1, and several target ranks narrow
  * in the same scans — so the head pass, the descent, the collapse
  * rule, the round cap and the resolve are written once.
  */
object DistributedSelect {

  /** The one group of a call without a group column. */
  private val NoGroup = ""

  /** Finite (neither null, NaN nor ±Infinity) values. */
  private val finite = col("_v") > Double.NegativeInfinity &&
    col("_v") < Double.PositiveInfinity

  /** One group's head-pass facts: the finite min and max (0 without a
    * finite value), the finite, −∞ and +∞ weight masses and the finite
    * row count. */
  private final case class Head(lo: Double, hi: Double, wf: Long,
                                wn: Long, wp: Long, nf: Long) {
    def total: Long = wf + wn + wp
  }

  /** One target's narrowing state: the live range, the rank `kk`
    * still to find inside it and the rows the range holds. A range
    * collapsed to one value (lo == hi — a ±Infinity mass, or every
    * candidate equal) is answered: it is that value. */
  private final case class GroupState(lo: Double, hi: Double, kk: Long,
                                      rowsInRange: Long)

  /** What one engine call answers: each group's head, the value at
    * every (group, rank) target, and the shared round count.
    * `total`/`value` read an ungrouped call's one group. */
  private final case class Selected(heads: Map[String, Head],
                                    values: Map[(String, Long), Double],
                                    rounds: Int) {
    def total: Long = heads(NoGroup).total
    def value(k: Long): Double = values((NoGroup, k))
  }

  /** The engine's input frame (_g, _v, _w): the group as a string
    * ([[NoGroup]] without one), the value as a double with null and NaN
    * dropped, the weight as a long (1 without one). */
  private def prepare(df: DataFrame, value: Column,
                      group: Column = lit(NoGroup),
                      weight: Column = lit(1L)): DataFrame =
    df.select(group.cast("string").as("_g"),
        value.cast("double").as("_v"), weight.cast("long").as("_w"))
      .filter(col("_g").isNotNull &&
        col("_v").isNotNull && !isnan(col("_v")))

  /** The discrete q-quantile's 1-based rank in total weight w: ⌈q·w⌉,
    * at least 1 (the lower/"disc" convention). */
  private def rank(q: Double, w: Long): Long =
    math.max(1L, math.ceil(q * w).toLong)

  /** A driver-built result table of a few rows. */
  private def table[A <: Product : TypeTag](df: DataFrame, names: String*)
                                           (rows: Seq[A]): DataFrame =
    df.sparkSession.createDataFrame(rows).toDF(names: _*)

  /** The head pass: one groupBy(_g) aggregate, G rows to the driver.
    * Weight validation rides it (no separate validation scan — at
    * corpus scale an extra full pass just to check weights would
    * double the fixed cost of every quantile). An empty ungrouped
    * input still has its one group, of weight 0, so its caller's
    * `targets` sees (and rejects) it. */
  private def headPass(all: DataFrame, grouped: Boolean,
                       maxGroups: Int): Map[String, Head] = {
    val rows = all.groupBy("_g").agg(
      coalesce(min(when(finite, col("_v"))), lit(0.0)),
      coalesce(max(when(finite, col("_v"))), lit(0.0)),
      coalesce(sum(when(finite, col("_w"))), lit(0L)),
      coalesce(sum(when(col("_v") === Double.NegativeInfinity,
        col("_w"))), lit(0L)),
      coalesce(sum(when(col("_v") === Double.PositiveInfinity,
        col("_w"))), lit(0L)),
      count(when(finite, lit(1))),
      count(when(col("_w").isNull || col("_w") <= 0, lit(1))))
      .collect()
    require(rows.length <= maxGroups,
      s"${rows.length} groups exceed maxGroups=$maxGroups: grouped " +
        "selection keeps per-group range state on the driver")
    require(rows.forall(_.getLong(7) == 0),
      "weights must be positive integers (null/<=0 found)")
    val heads = rows.map(r => r.getString(0) -> Head(r.getDouble(1),
      r.getDouble(2), r.getLong(3), r.getLong(4), r.getLong(5),
      r.getLong(6))).toMap
    if (grouped || heads.nonEmpty) heads
    else Map(NoGroup -> Head(0, 0, 0, 0, 0, 0))
  }

  /** THE narrowing engine. `targets` maps a group's total weight to
    * the ranks wanted in it; a caller with its own message for a group
    * too small rejects it there, and a rank past the total fails as
    * "k exceeds `what`" (what the weights count). `known` heads, when a
    * caller can derive them, replace the head pass.
    *
    *   - Head pass ([[headPass]]): seeds every group. A rank inside an
    *     infinite mass IS that infinity.
    *   - Rounds: each is ONE scan. Rows meet the live target ranges
    *     that contain them ([[meet]]) and per-(group, target, cell)
    *     weight sums and row counts come back (≤ targets·B rows —
    *     stats, not data). Every live target descends in its OWN cell
    *     grid ([[descend]]), so rounds = max over targets of
    *     log_B(n/threshold), not the sum — a thousand groups or four
    *     dashboard quantiles cost the scans of one. At most 64 rounds.
    *   - Resolve: one bounded pass for every target still open — the
    *     running weight over its ≤ threshold surviving rows (a window
    *     partitioned by target), first crossing of its rank.
    *
    * Group cardinality must be report-grade: the per-target state
    * lives on the driver, so `maxGroups` rejects degenerate callers
    * loudly rather than OOMing. */
  private def narrow(all: DataFrame, grouped: Boolean, buckets: Int,
                     threshold: Long, maxGroups: Int = Int.MaxValue,
                     known: Option[Map[String, Head]] = None,
                     what: String = "total weight")
                    (targets: Long => Seq[Long]): Selected = {
    require(buckets >= 2, "buckets must be >= 2")
    require(threshold >= 1 && threshold <= Int.MaxValue,
      s"threshold must be in [1, Int.MaxValue] (got $threshold): the " +
        "bounded resolve holds up to threshold rows per target in one " +
        "window partition")
    val heads = known.getOrElse(headPass(all, grouped, maxGroups))
    var state: Map[(String, Long), GroupState] = heads.toSeq.flatMap {
      case (g, h) => targets(h.total).distinct.map { k =>
        require(k <= h.total, s"k=$k exceeds $what")
        val inf = if (k <= h.wn) Some(Double.NegativeInfinity)
          else Option.when(k > h.wn + h.wf)(Double.PositiveInfinity)
        (g, k) -> inf.fold(GroupState(h.lo, h.hi, k - h.wn, h.nf))(v =>
          GroupState(v, v, 0, 0))
      }
    }.toMap

    val vals = all.filter(finite)
    var rounds = 0
    // narrow while a target's range is big and can still split
    def live = state.filter { case (_, s) =>
      s.lo < s.hi && s.rowsInRange > threshold
    }
    while (live.nonEmpty && rounds < 64) {
      rounds += 1
      val open = live
      // equi-width cells over each target's [lo, hi]: the same formula
      // as descend's, so a row can never fall between rounds
      val width = (col("_rhi") - col("_rlo")) / buckets
      val cellOf = least(lit(buckets - 1L), greatest(lit(0L),
        floor((col("_v") - col("_rlo")) / width).cast("long")))
      val cells = meet(vals, grouped, open)
        .groupBy(col("_g"), col("_t"), cellOf.as("_c"))
        .agg(sum(col("_w")), count(lit(1)))
        .collect() // ≤ targets·B rows — stats, not data
        .groupBy(r => (r.getString(0), r.getLong(1)))
      state ++= open.map { case (t, s) =>
        t -> descend(s, buckets, cells.getOrElse(t, Array.empty[Row])
          .map(r => r.getLong(2) -> (r.getLong(3), r.getLong(4))).toMap)
      }
    }

    val pending = state.filter { case (_, s) => s.lo < s.hi }
    val tail: Map[(String, Long), Double] =
      if (pending.isEmpty) Map.empty
      else {
        val win = Window.partitionBy("_g", "_t").orderBy(col("_v").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        meet(vals, grouped, pending)
          .withColumn("_cw", sum(col("_w")).over(win))
          // the one row whose running weight first reaches the rank
          .filter(col("_cw") >= col("_rkk") &&
            col("_cw") - col("_w") < col("_rkk"))
          .select("_g", "_t", "_v")
          .collect()
          .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
      }

    // driver-loop counters into the bench artifact (Counters.note —
    // keep-last, so a multi-pass caller like groupedMad reports its
    // final pass): rounds is THE cost driver here
    Counters.note("exact_select", "loop", Map(
      "rounds" -> rounds.toLong, "groups" -> heads.size.toLong,
      "targets" -> state.size.toLong,
      "tail_resolved" -> tail.size.toLong))
    // guarded lookup: if FP drift between the floor((v-lo)/width) cell
    // assignment and the v∈[lo,hi] resolve filter ever strands a
    // target with no crossing row, fail with its group/range/rank in
    // the message, not a bare NoSuchElementException from a Map.
    Selected(heads, state.map { case (t @ (g, k), s) =>
      t -> (if (s.lo == s.hi) s.lo else tail.getOrElse(t,
        throw new IllegalStateException(
          s"exact selection: bounded resolve found no crossing row for " +
            s"group '$g', rank k=$k (range [${s.lo}, ${s.hi}], " +
            s"kk=${s.kk}, rowsInRange=${s.rowsInRange}) — FP boundary " +
            "drift between cell assignment and resolve")))
    }, rounds)
  }

  /** The rows of `vals` that fall in a target's range, each paired
    * with that target: (_g, _v, _w, _t, _rlo, _rhi, _rkk). Rows first
    * filter to the ENVELOPE of the ranges — a plain sargable value
    * predicate that pushes to a real scan, so in later rounds most
    * rows never pay the pairing. Ungrouped, each row explodes onto the
    * ≤Q range literals (bounded Q× amplification of the envelope's
    * rows only, codegen'd generate+filter, no join node); grouped, the
    * ranges broadcast-join on _g. Never a constant-key join: it folds
    * to the BroadcastNestedLoopJoin PlanDisciplineSpec bans. */
  private def meet(vals: DataFrame, grouped: Boolean,
                   ranges: Map[(String, Long), GroupState]): DataFrame = {
    val envelope = vals.filter(
      col("_v") >= ranges.values.map(_.lo).min &&
        col("_v") <= ranges.values.map(_.hi).max)
    val paired =
      if (grouped) {
        envelope.join(broadcast(table(vals, "_rg", "_t", "_rlo", "_rhi",
            "_rkk")(ranges.toSeq.map { case ((g, k), s) =>
              (g, k, s.lo, s.hi, s.kk) })),
          col("_g") === col("_rg"))
      } else
        envelope.select(col("_g"), col("_v"), col("_w"),
            explode(array(ranges.toSeq.map { case ((_, k), s) =>
              struct(lit(k).as("_t"), lit(s.lo).as("_rlo"),
                lit(s.hi).as("_rhi"), lit(s.kk).as("_rkk"))
            }: _*)).as("_r"))
          .select(col("_g"), col("_v"), col("_w"), col("_r.*"))
    paired.filter(col("_v") >= col("_rlo") && col("_v") <= col("_rhi"))
  }

  /** One descent step: walk the B cells' (weight, rows) up to the one
    * holding `s`'s rank, narrow to it and shift the rank past the
    * weight below it. When the range cannot split — every candidate
    * shares one double, or FP width underflow — it collapses: the k-th
    * of identical values is that value. */
  private def descend(s: GroupState, buckets: Int,
                      byCell: Map[Long, (Long, Long)]): GroupState = {
    val width = (s.hi - s.lo) / buckets
    def weight(c: Long) = byCell.get(c).fold(0L)(_._1)
    var c = 0L
    var below = 0L
    while (c < buckets && below + weight(c) < s.kk) {
      below += weight(c)
      c += 1
    }
    val rows = byCell.get(c).fold(0L)(_._2)
    val newLo = s.lo + c * width
    val newHi = if (c == buckets - 1) s.hi else s.lo + (c + 1) * width
    val stuck = newLo >= newHi || newLo == s.lo && newHi == s.hi
    GroupState(newLo, if (stuck) newLo else newHi, s.kk - below, rows)
  }

  /** The exact k-th smallest (1-based) value of `valueCol` cast to
    * double, with the number of narrowing rounds: returns
    * (value, rounds). */
  def kthSmallest(df: DataFrame, valueCol: String, k: Long,
                  buckets: Int = 128,
                  threshold: Long = 100000): (Double, Int) =
    kth(df, col(valueCol), lit(1L), k, buckets, threshold,
      "non-null row count")

  /** Exact WEIGHTED k-th smallest: the smallest value v with
    * Σ_{u ≤ v} w(u) ≥ k over positive INTEGER weights (integer so the
    * crossing point is exact — no summation-order drift; a
    * token-count or byte-size weight is the natural caller). Per-cell
    * weight sums drive the descent and per-cell ROW counts bound the
    * resolve. The answer is a value of the multiset, so tie order
    * cannot affect it. Nulls and NaN values are excluded; rows with
    * null/non-positive weight are rejected loudly. Returns
    * (value, rounds). */
  def weightedKthSmallest(df: DataFrame, valueCol: String,
                          weightCol: String, k: Long,
                          buckets: Int = 128,
                          threshold: Long = 100000): (Double, Int) =
    kth(df, col(valueCol), col(weightCol), k, buckets, threshold,
      "total weight")

  private def kth(df: DataFrame, value: Column, weight: Column, k: Long,
                  buckets: Int, threshold: Long,
                  what: String): (Double, Int) = {
    require(k >= 1, "k must be >= 1")
    val sel = narrow(prepare(df, value, weight = weight), grouped = false,
      buckets, threshold, what = what)(_ => Seq(k))
    (sel.value(k), sel.rounds)
  }

  /** Exact discrete quantile (the value at 1-based position
    * ⌈q·n⌉ — the lower/"disc" convention, no interpolation): one-row
    * DataFrame (value, n, k) for the oracle-comparable form; n comes
    * from the head pass. (The narrowing-round count is available via
    * [[kthSmallest]]; it is a property of the run, not of the data, so
    * it stays out of the oracle-compared schema.) */
  def exactQuantile(df: DataFrame, valueCol: String,
                    q: Double, buckets: Int = 128,
                    threshold: Long = 100000): DataFrame =
    quantileRow(df, col(valueCol), lit(1L), q, buckets, threshold,
      "non-null row count", "n")

  /** Exact weighted discrete quantile: the value at cumulative-weight
    * position ⌈q·W⌉ — one-row DataFrame (value, w_total, k). W comes
    * from the head pass. */
  def exactWeightedQuantile(df: DataFrame, valueCol: String,
                            weightCol: String, q: Double,
                            buckets: Int = 128,
                            threshold: Long = 100000): DataFrame =
    quantileRow(df, col(valueCol), col(weightCol), q, buckets, threshold,
      "total weight", "w_total")

  private def quantileRow(df: DataFrame, value: Column, weight: Column,
                          q: Double, buckets: Int, threshold: Long,
                          what: String, totalName: String): DataFrame = {
    require(q > 0 && q <= 1, "q must be in (0, 1]")
    val sel = narrow(prepare(df, value, weight = weight), grouped = false,
      buckets, threshold, what = what)(w => Seq(rank(q, w)))
    val k = rank(q, sel.total)
    table(df, "value", totalName, "k")(Seq((sel.value(k), sel.total, k)))
  }

  /** Exact weighted discrete quantile for EVERY group at once — the
    * group-wise form of [[weightedKthSmallest]] with all groups
    * narrowing in the SAME scans ("median doc length by language,
    * weighted by tokens" in one operator call, rounds the max over
    * groups of log_B(n_g/threshold), not the sum).
    *
    * The group column must be string-typed (composite keys concat
    * upstream — the splitName convention); at most `maxGroups` groups.
    * Groups whose every value is null/NaN do not appear in the output,
    * matching the SQL convention (no comparable values, no quantile).
    * Weights and ±Infinity masses work as in the ungrouped form.
    * Returns (group, value, w_total, k) ordered by group. */
  def groupedWeightedQuantile(df: DataFrame, groupCol: String,
                              valueCol: String, weightCol: String,
                              q: Double, buckets: Int = 128,
                              threshold: Long = 100000,
                              maxGroups: Int = 100000): DataFrame = {
    require(q > 0 && q <= 1, "q must be in (0, 1]")
    val sel = narrow(prepare(df, col(valueCol), col(groupCol),
        col(weightCol)), grouped = true, buckets, threshold, maxGroups)(
      w => Seq(rank(q, w)))
    table(df, groupCol, "value", "w_total", "k")(
      sel.heads.toSeq.sortBy(_._1).map { case (g, h) =>
        val k = rank(q, h.total)
        (g, sel.values((g, k)), h.total, k)
      })
  }

  /** Exact median absolute deviation — the robust dispersion statistic
    * a quality-score monitor scales by (stddev is wrecked by the one
    * 10^6-token outlier; MAD is not): median m of the values, then the
    * median of |x − m|, both EXACT narrowing selections (≈ 2·log_B(n)
    * pushable scans, nothing data-sized on the driver; n comes from
    * the first one's head pass, and the second one's head follows
    * from it). Both answers are order statistics
    * of real multisets (the deviations are IEEE |x − m| with m the
    * identical double in any engine), so the result is engine-exact
    * with no summation order anywhere. One-row DataFrame
    * (median, mad, n). */
  def madFrame(df: DataFrame, valueCol: String, buckets: Int = 128,
               threshold: Long = 100000): DataFrame = {
    val vals = prepare(df, col(valueCol))
    val med = narrow(vals, grouped = false, buckets, threshold) { n =>
      require(n >= 1, "madFrame needs at least one comparable value")
      Seq(rank(0.5, n))
    }
    val k = rank(0.5, med.total)
    val m = med.value(k)
    val known = deviationHead(med.heads(NoGroup), m)
      .map(h => Map(NoGroup -> h))
    // the MAD ranks the SURVIVING deviations (an infinite m makes the
    // same-signed infinities' deviations NaN, which drop) — the
    // groupedMad rule; with a finite m that is every value
    val dev = narrow(prepare(vals, abs(col("_v") - lit(m))),
        grouped = false, buckets, threshold, known = known,
        what = "non-null row count")(n => Seq(rank(0.5, n)))
    val mad = dev.value(rank(0.5, dev.total))
    table(df, "median", "mad", "n")(Seq((m, mad, med.total)))
  }

  /** The head of the deviations |x − m| without a scan: |x − m| is
    * monotone on each side of m, so the largest finite deviation sits
    * at the finite min or max, 0 bounds the smallest (a range need only
    * contain its values) and infinite values deviate by +∞. None when
    * m is infinite (NaN deviations drop) or a deviation overflows to
    * +∞ — the head pass answers then. */
  private def deviationHead(h: Head, m: Double): Option[Head] = {
    val top = math.max(math.abs(h.lo - m), math.abs(h.hi - m))
    Option.when(!m.isInfinite && !top.isInfinite)(
      Head(0.0, top, h.wf, 0L, h.wn + h.wp, h.nf))
  }

  /** Exact per-group median absolute deviation — [[madFrame]] for
    * every group at once: per-group medians m_g (all groups narrowing
    * in the same scans), then the G-row median table broadcast-joins
    * back onto the data and the per-group median of |x − m_g| resolves
    * the same way. The robust dispersion behind
    * per-language/per-source quality monitoring ("scale each group's
    * scores by ITS spread") — total scan count is 2× one grouped
    * selection regardless of G, where the per-group loop would pay
    * G·log(n) scans twice. Weights weight the deviation multiset
    * exactly as they weight the value multiset. Returns
    * (group, median, mad, w_total) ordered by group. */
  def groupedMad(df: DataFrame, groupCol: String, valueCol: String,
                 weightCol: String, buckets: Int = 128,
                 threshold: Long = 100000,
                 maxGroups: Int = 100000): DataFrame = {
    val half: Long => Seq[Long] = w => Seq(rank(0.5, w))
    val vals = prepare(df, col(valueCol), col(groupCol), col(weightCol))
    val med = narrow(vals, grouped = true, buckets, threshold,
      maxGroups)(half)
    val ms = med.heads.map { case (g, h) =>
      g -> med.values((g, rank(0.5, h.total))) }
    val devs = vals.join(broadcast(table(df, "_mg", "_m")(ms.toSeq)),
      col("_g") === col("_mg"))
    // every group's deviation head derived, or the head pass for all
    val derived = med.heads.toSeq.map { case (g, h) =>
      deviationHead(h, ms(g)).map(g -> _) }
    val mad = narrow(prepare(devs, abs(col("_v") - col("_m")), col("_g"),
        col("_w")), grouped = true, buckets, threshold, maxGroups,
      known = Option.when(derived.forall(_.isDefined))(
        derived.flatten.toMap))(half)
    table(df, groupCol, "median", "mad", "w_total")(
      mad.heads.toSeq.sortBy(_._1).map { case (g, h) =>
        (g, ms(g), mad.values((g, rank(0.5, h.total))),
          med.heads(g).total)
      })
  }

  /** Exact winsorized mean: values clamp to the exact [⌈qLo·n⌉-th,
    * ⌈qHi·n⌉-th] order statistics (two targets of ONE narrowing call,
    * sharing its head pass and scans), then average — the
    * outlier-robust location estimate a corpus quality dashboard
    * trends (a handful of 10^8-char docs cannot move it). Each clamped
    * value micro-quantizes BEFORE the sum (round(v·1e6) as a long —
    * summation-order-free), and the mean is the single integer floor
    * division at the end. One-row DataFrame
    * (lo_value, hi_value, n, wmean_micro). */
  def winsorizedMeanMicro(df: DataFrame, valueCol: String,
                          qLo: Double = 0.05, qHi: Double = 0.95,
                          buckets: Int = 128,
                          threshold: Long = 100000): DataFrame = {
    require(qLo > 0 && qLo < qHi && qHi <= 1,
      "need 0 < qLo < qHi <= 1")
    val vals = prepare(df, col(valueCol))
    val sel = narrow(vals, grouped = false, buckets, threshold) { n =>
      require(n >= 1, "winsorizedMeanMicro needs at least one value")
      Seq(rank(qLo, n), rank(qHi, n))
    }
    val n = sel.total
    val lo = sel.value(rank(qLo, n))
    val hi = sel.value(rank(qHi, n))
    require(!lo.isInfinite && !hi.isInfinite,
      s"winsorizedMeanMicro needs finite clamps (got [$lo, $hi]): an " +
        "infinite clamp has no micro-unit mean")
    val agg = vals.agg(
      sum(round(least(greatest(col("_v"), lit(lo)), lit(hi)) *
        lit(1e6)).cast("long")).as("_s")).head()
    table(df, "lo_value", "hi_value", "n", "wmean_micro")(
      Seq((lo, hi, n, Math.floorDiv(agg.getLong(0), n))))
  }

  /** EVERY requested quantile of one column in SHARED scans — the
    * multi-target form of [[kthSmallest]] (a latency dashboard wants
    * P50/P90/P99/P999 together; running the narrowing once per
    * quantile pays Q·log_B(n) scans for what is one column's
    * statistics). Duplicate target ranks (q's that round to the same
    * ⌈q·n⌉) share one narrowing. Returns (q, value, n, k) ordered by
    * q. */
  def exactQuantiles(df: DataFrame, valueCol: String,
                     qs: Seq[Double], buckets: Int = 128,
                     threshold: Long = 100000): DataFrame = {
    require(qs.nonEmpty, "need at least one quantile")
    qs.foreach(q => require(q > 0 && q <= 1,
      s"q must be in (0, 1] (got $q)"))
    val sel = narrow(prepare(df, col(valueCol)), grouped = false,
        buckets, threshold) { n =>
      require(n >= 1, "exactQuantiles needs at least one value")
      qs.map(rank(_, n))
    }
    val n = sel.total
    table(df, "q", "value", "n", "k")(qs.distinct.sorted.map(q =>
      (q, sel.value(rank(q, n)), n, rank(q, n))))
  }

  /** Equi-depth histogram: `buckets` buckets whose boundaries are the
    * EXACT order statistics at q = 1/B … (B−1)/B — the optimizer-stats
    * / data-profile shape where an equi-WIDTH histogram is useless on
    * skewed values (one bucket holds everything). Boundaries resolve
    * through [[exactQuantiles]]' shared narrowing scans (rounds = the
    * max over targets, a B−1-row driver fetch — parameters, not data);
    * then ONE counting scan assigns each row bucket = #{boundaries
    * < v} via a static chain of B−1 codegen'd comparisons (values
    * equal to a boundary fall LEFT; no higher-order functions on the
    * hot path — the q17c house rule). With heavy ties adjacent
    * boundaries can collide and the bucket between them is genuinely
    * empty: all B rows are reported, absent buckets with cnt 0, so
    * the output contract is fixed-size. NULL/NaN excluded as in every
    * selection operator; ±∞ are ordinary extreme values. Returns
    * (bucket, lo, hi, cnt) — lo is NULL for bucket 0, hi NULL for the
    * last (unbounded tails). */
  def equiDepthHistogram(df: DataFrame, valueCol: String, buckets: Int,
                         narrowBuckets: Int = 128,
                         threshold: Long = 100000): DataFrame = {
    require(buckets >= 2 && buckets <= 1024,
      s"buckets must be in [2, 1024] (got $buckets)")
    val qs = (1 until buckets).map(i => i.toDouble / buckets)
    val bnds = exactQuantiles(df, valueCol, qs, narrowBuckets, threshold)
      .orderBy("q").select("value").collect().map(_.getDouble(0))
    val vals = prepare(df, col(valueCol))
    val bucketOf = bnds.map(b => when(col("_v") > lit(b), 1L)
      .otherwise(0L)).reduce(_ + _)
    val counts = vals.groupBy(bucketOf.as("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val shell = table(df, "bucket", "lo", "hi")((0 until buckets).map { i =>
      (i.toLong,
        if (i == 0) None else Some(bnds(i - 1)),
        if (i == buckets - 1) None else Some(bnds(i)))
    })
    // B-row shell ⋈ ≤B-row counts: both sides bucket-keyed singletons
    shell.join(counts, Seq("bucket"), "left")
      .select(col("bucket"), col("lo"), col("hi"),
        coalesce(col("cnt"), lit(0L)).as("cnt"))
      .orderBy("bucket")
  }
}
