package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.streaming.Monitor

/** Evaluation & monitoring operators for a training-data pipeline:
  * the measurements run AGAINST the corpus and its quality signals —
  * does a score actually separate good from bad (ROC-AUC), and has a
  * distribution drifted between two corpus segments or snapshots
  * (PSI)? Both are exact, integer-disciplined, and engine-replayable;
  * neither moves data-sized state to the driver.
  */
object Eval {

  /** Exact ROC-AUC of `score` against binary `label` (1 = positive),
    * tie-aware (midrank / Mann–Whitney U): one row
    * (auc, n_pos, n_neg).
    *
    * Shape at scale: one groupBy collapses the corpus to its DISTINCT
    * score values (map-side combine first); the running
    * negatives-below sum is a window over THAT value-distinct frame —
    * its single partition is bounded by score cardinality, not corpus
    * rows. For continuous scores quantize first (e.g. the house
    * `round(score·1e6)` micro discipline) so the distinct frame stays
    * bounded; every pipeline score in this repo is already discrete.
    * The U statistic is pure integer arithmetic (2U avoids the tie
    * half-unit), so the only float is the final division.
    *
    * Degenerate-label contract: with a single-class input (n_pos = 0
    * or n_neg = 0) ranking quality is undefined — `auc` comes back
    * NULL (never NaN: NaN orders and JSON-serializes inconsistently
    * downstream), with n_pos/n_neg still reported for diagnosis. */
  def rocAuc(df: DataFrame, score: Column, label: Column): DataFrame = {
    val pts = df.select(score.as("s"),
      when(label === 1, 1L).otherwise(0L).as("y"))
    // pinned distinct-score frame; the exclusive below-count comes
    // from the distributed celled cums (r14 — no global sort)
    val g = pts.groupBy("s").agg(
        sum(col("y")).as("pos"),
        (count(lit(1)) - sum(col("y"))).as("neg"))
      // lazy pin: the celled envelope fetch materializes it (r15)
      .localCheckpoint(false)
    val u2 = celledCums(g, "s", Seq("_cn" -> col("neg")),
        withNextV = false)
      .withColumn("neg_below", col("_cn") - col("neg"))
      .agg(sum(lit(2L) * col("neg_below") * col("pos") +
        col("neg") * col("pos")).as("u2"),
        sum(col("pos")).as("n_pos"), sum(col("neg")).as("n_neg"))
    u2.select(
      when(col("n_pos") > 0 && col("n_neg") > 0,
        round(col("u2").cast("double") /
          (lit(2.0) * col("n_pos") * col("n_neg")), 6)).as("auc"),
      col("n_pos"), col("n_neg"))
  }

  /** Exact tie-aware average precision (area under the
    * precision-recall curve, step-wise — the no-interpolation form) of
    * `score` against binary `label`: one row
    * (ap_micro, n_pos, n_neg).
    *
    * Thresholds descend the DISTINCT score values with ties grouped:
    * a block of pos_k positives at threshold k contributes
    * (pos_k/n_pos)·(cum_pos_k/cum_n_k) — recall gain times the
    * precision at that cut. Same shape discipline as [[rocAuc]]: the
    * corpus collapses to its distinct-score frame first (map-side
    * combine), the cumulative window rides THAT bounded frame, and
    * each block's term quantizes to integer micro-units before the
    * sum, so the result is order-independent and engine-replayable.
    * PR-AUC is the complement review metric to ROC-AUC under class
    * imbalance (a quality classifier over a mostly-good corpus):
    * ROC-AUC stays optimistic when negatives dominate; AP does not.
    *
    * Degenerate-label contract (the rocAuc rule): n_pos = 0 →
    * ap_micro NULL, counts still reported. */
  def prAuc(df: DataFrame, score: Column, label: Column): DataFrame = {
    val pts = df.select(score.as("s"),
      when(label === 1, 1L).otherwise(0L).as("y"))
    // pinned distinct-score frame (feeds the celled cums AND the
    // totals); the DESCENDING inclusive cums derive from the
    // ascending celled cums + totals — cum_desc = total −
    // (cum_asc_incl − own) — exact integer identities, so the terms
    // are bit-equal to the former desc global window (r14)
    val g = pts.groupBy("s").agg(
        sum(col("y")).as("pos"),
        (count(lit(1)) - sum(col("y"))).as("neg"))
      // lazy pin: the celled envelope fetch materializes it (r15)
      .localCheckpoint(false)
    val totals = g.agg(sum(col("pos")).as("_tp"),
        sum(col("pos") + col("neg")).as("_tt"))
      .withColumn("_one", pmod(col("_tt"), lit(1L)).cast("int"))
    val terms = celledCums(g, "s", Seq("_cp" -> col("pos"),
        "_cn" -> (col("pos") + col("neg"))), withNextV = false)
      .withColumn("_one",
        pmod(col("_cp") + col("_cn"), lit(1L)).cast("int"))
      .join(broadcast(totals), "_one")
      .withColumn("cum_pos",
        col("_tp") - (col("_cp") - col("pos")))
      .withColumn("cum_n",
        col("_tt") - (col("_cn") - (col("pos") + col("neg"))))
      .select(
        when(col("pos") > 0,
          round(lit(1e6) * col("pos") * col("cum_pos") / col("cum_n"))
            .cast("long")).otherwise(0L).as("term"),
        col("pos"), col("neg"))
      .agg(sum(col("term")).as("tsum"),
        sum(col("pos")).as("n_pos"), sum(col("neg")).as("n_neg"))
    terms.select(
      when(col("n_pos") > 0,
        round(col("tsum").cast("double") / col("n_pos")).cast("long"))
        .as("ap_micro"),
      col("n_pos"), col("n_neg"))
  }

  /** Expected Calibration Error of a [0,1] `prediction` against
    * binary `label`, equal-width `bins`, in integer micro-units: one
    * row (ece_micro, n, n_bins_used). The post-training sanity check
    * on any quality/filter classifier the pipeline trains: a model
    * can rank well (high AUC) yet be badly calibrated, and
    * temperature-scaled sampling (d25) or threshold picking silently
    * inherits that.
    *
    * The usual ECE — Σ_b (n_b/N)·|avg(p)_b − avg(y)_b| — reduces to
    * Σ_b |Σ_b round(1e6·p) − 1e6·pos_b| / N, so per-row predictions
    * quantize to micro FIRST and everything stays integer until the
    * final division (the d28 discipline: order-independent,
    * hash-exact in any engine). One groupBy on the bin (map-side
    * combine), a bin-cardinality frame, one final fold; predictions
    * outside [lo,hi) clamp to the edge bins. */
  def calibrationErrorMicro(df: DataFrame, prediction: Column,
                            label: Column, bins: Int = 10,
                            lo: Double = 0.0, hi: Double = 1.0)
      : DataFrame = {
    require(bins >= 1, "bins must be >= 1")
    require(hi > lo, "hi must exceed lo")
    val p = prediction.cast("double")
    val bin = least(lit(bins - 1L), greatest(lit(0L),
      floor((p - lit(lo)) / lit((hi - lo) / bins)).cast("long")))
    df.select(bin.as("bin"),
        round(p * lit(1e6)).cast("long").as("pm"),
        when(label === 1, 1L).otherwise(0L).as("y"))
      .groupBy("bin").agg(sum(col("pm")).as("psum"),
        sum(col("y")).as("pos"), count(lit(1)).as("nb"))
      .agg(sum(abs(col("psum") - lit(1000000L) * col("pos")))
          .as("num"),
        sum(col("nb")).as("n"), count(lit(1)).as("n_bins_used"))
      .select(round(col("num").cast("double") / col("n")).cast("long")
          .as("ece_micro"),
        col("n"), col("n_bins_used"))
  }

  /** Population Stability Index between segment `segA`'s and `segB`'s
    * distributions over `bucket`, in integer micro-units: one row
    * (psi_micro, n_a, n_b, n_buckets). The standard drift monitor
    * between corpus snapshots, sources, or time slices
    * (PSI < 0.1 stable, > 0.25 drifted — ×1e6 here).
    *
    * Laplace-smoothed over the OBSERVED bucket set ((c+1)/(n+B), B =
    * buckets seen in either segment) so empty cells are defined and
    * both engines agree without epsilon conventions. Per-bucket terms
    * quantize to integer micro-units BEFORE the sum (the d28
    * discipline — ln()'s last-ulp spread never reaches the result).
    *
    * Shape at scale: one segment-filtered groupBy on the bucket
    * (map-side combine), a bucket-cardinality-sized frame joined to
    * its own 1-row totals on a constant key (attribute-dependent so
    * constant folding cannot re-plan a nested-loop join), one final
    * sum. The corpus is scanned once. */
  def psiMicro(df: DataFrame, bucket: Column, segment: Column,
               segA: String, segB: String): DataFrame =
    psiFromCounts(df.filter(segment.isin(segA, segB))
      .groupBy(bucket.as("bucket"))
      .agg(sum(when(segment === segA, 1L).otherwise(0L)).as("ca"),
        sum(when(segment === segB, 1L).otherwise(0L)).as("cb")))

  /** The PSI arithmetic over a prebuilt (bucket, ca, cb) histogram
    * frame — shared by the two-segment batch form and the streaming
    * drift monitor so the smoothing/quantization cannot drift. */
  private def psiFromCounts(h: DataFrame): DataFrame = {
    val totals = h.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"),
        count(lit(1)).as("nbuckets"))
      .withColumn("_one", pmod(col("nbuckets"), lit(1L)).cast("int"))
    val terms = h
      .withColumn("_one", pmod(col("ca") + col("cb"), lit(1L)).cast("int"))
      .join(broadcast(totals), "_one")
      .select(col("na"), col("nb"), col("nbuckets"),
        ExprUtils.let((col("ca") + 1).cast("double") /
          (col("na") + col("nbuckets"))) { p =>
          ExprUtils.let((col("cb") + 1).cast("double") /
            (col("nb") + col("nbuckets"))) { q =>
            round(lit(1e6) * (p - q) * log(p / q)).cast("long")
          }
        }.as("term"))
    terms.groupBy("na", "nb", "nbuckets")
      .agg(sum(col("term")).as("psi_micro"))
      .select(col("psi_micro"), col("na").as("n_a"), col("nb").as("n_b"),
        col("nbuckets").as("n_buckets"))
  }

  /** Two-sample Kolmogorov–Smirnov statistic between segment `segA`'s
    * and `segB`'s distributions of `value`, in integer micro-units:
    * one row (ks_micro, n_a, n_b, n_values). The distribution-shape
    * complement of [[psiMicro]]: PSI needs a bucketing choice, KS is
    * bucket-free (max CDF gap over the observed values) — the right
    * drift alarm when no natural binning exists.
    *
    * D = max_v |F_a(v) − F_b(v)| = max_v |cumA(v)·n_b − cumB(v)·n_a| /
    * (n_a·n_b) — pure integer arithmetic until the FINAL floor
    * division, so the statistic is order-independent and hash-exact in
    * any engine. Shape at scale: the corpus collapses to its
    * value-distinct frame first (map-side combine); the cumulative
    * window rides THAT bounded frame only (the [[rocAuc]] contract —
    * quantize continuous values first so the frame stays bounded).
    * Totals join back on a constant key (attribute-dependent, so
    * constant folding cannot re-plan a nested-loop join).
    *
    * Exactness bound: the scaled numerator 1e6·|…| must fit a long —
    * exact for n_a·n_b ≤ 9.2e12 (two ~3M-row segments). Beyond that,
    * pre-aggregate `value` into quantized buckets and pass the bucket:
    * the same pre-aggregation the distinct-frame contract already
    * requires. Single-class input (n_a or n_b = 0) → ks_micro NULL,
    * counts still reported (the rocAuc degenerate contract). */
  def ksMicro(df: DataFrame, value: Column, segment: Column,
              segA: String, segB: String): DataFrame =
    ksFromCounts(df.filter(segment.isin(segA, segB))
      .groupBy(value.as("v"))
      .agg(sum(when(segment === segA, 1L).otherwise(0L)).as("ca"),
        sum(when(segment === segB, 1L).otherwise(0L)).as("cb")))

  /** Hard ceiling on the FromCounts family's value frame: the
    * (v, ca, cb) frame is bounded by VALUE CARDINALITY (the ksMicro
    * contract — quantize continuous columns first). Since the r14
    * celledCums refit the cumulatives are distributed across
    * value-range cells (no single sort task), so the cap no longer
    * guards one partition's memory — it now bounds the pinned
    * (localCheckpoint) frame and keeps the contract loud: past it
    * the input has violated the quantization contract and must fail
    * EARLY, not grind through a corpus-sized "distinct-value" frame
    * that was supposed to be a summary. PLANS.md "celledCums scale
    * rehearsal" measures the celled path at this cap with
    * planted-truth shift distributions. */
  private[graft] val MaxWindowValues: Long = 1L << 22

  /** The guarded constant-join key the FromCounts bodies thread their
    * totals through: passes 0 below the cap, raises in-plan above it.
    * It rides the BROADCAST side of the totals join, which
    * materializes before the probe side's global window sorts — so a
    * contract-violating cardinality kills the query before the
    * expensive (and memory-unsafe) work starts, the
    * exactTopK/RangeJoin in-plan-guard convention. */
  private[graft] def guardedOneKey(nvals: Column, cap: Long,
                                   op: String): Column =
    when(nvals <= cap, lit(0L))
      .otherwise(raise_error(concat(
        lit(s"$op: value cardinality "), nvals,
        lit(s" exceeds $cap — the global value window is bounded by"),
        lit(" distinct values; quantize the column first (the"),
        lit(" ksMicro contract)")))).cast("int")

  /** DISTRIBUTED cumulative sums over a per-distinct-value frame —
    * the [[midrankDoubled]] cell trick generalized, closing the
    * standing "global value window" watch item (r13 verdict: the
    * drift family's Window.orderBy(v) was the first re-audit for a
    * high-cardinality column, and q104 over price cents IS one —
    * 583k distinct values through one single-partition sort): assign
    * each row to one of `cells` value-range cells from a bounded
    * envelope fetch, cumulate cell totals over the ≤cells-row
    * aggregate frame (a bounded window — the B-row-stats class),
    * then run per-CELL inclusive prefix sums (parallel across cells)
    * and add each cell's offset. Exact integer/decimal sums compose
    * associatively, so the result is BIT-EQUAL to the global-window
    * form under any partitioning — only the exchange shape changes
    * (two keyed shuffles instead of one all-to-one sort).
    *
    * For each (name, expr) in `sums`, appends `name` = the INCLUSIVE
    * cumulative sum of expr over ascending `v`; `withNextV` appends
    * `next_v` = the global lead of v (within-cell lead patched at
    * cell boundaries with the next non-empty cell's first value —
    * NULL on the last row, matching the global form). CALLERS must
    * pass a PINNED frame (localCheckpoint) — the envelope fetch here
    * plus the caller's own totals/main consumers would otherwise
    * re-execute an expensive lineage once per consumer; the frame is
    * bounded by the callers' MaxWindowValues contract. A degenerate
    * envelope (one distinct value, non-finite width) collapses to
    * one cell — correct, just unsplit.
    *
    * Honest limit: cells are EQUI-WIDTH from the envelope, so a
    * heavy-tailed value DOMAIN (one outlier stretching the envelope
    * while the distinct values cluster in a narrow band)
    * concentrates rows into few cells and degrades toward the
    * single-cell form — never WORSE than the pre-r14 global window
    * (same work, same MaxWindowValues cap), just not better.
    * Equi-depth boundaries would fix it at the price of a quantile
    * pre-pass per call; not paid until a real profile shows
    * clustered-domain inputs (the drift family feeds quantized
    * metric domains, which spread). */
  private def celledCums(g: DataFrame, valueCol: String,
                         sums: Seq[(String, Column)],
                         withNextV: Boolean,
                         cells: Int = 1024,
                         envelope: Option[(Double, Double)] = None)
      : DataFrame = {
    // cells are assigned by the DOUBLE cast but rows order within a
    // cell by the native type, so the value must order like its
    // double cast — true for numerics, false for e.g. strings
    // ("10" < "9" lexicographically): fail loudly rather than
    // silently hybrid-order the cumulative (r14 review)
    require(g.schema(valueCol).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"celledCums: value column '$valueCol' has type " +
        s"${g.schema(valueCol).dataType} — the celled cumulative " +
        "orders by the double cast, so the column must be numeric " +
        "(quantize or cast first; the ksMicro contract)")
    // callers that already run a 1-row totals fetch fold min/max into
    // it and pass the envelope — one bounded fetch instead of two
    // (r15, guide §1.2 job-count)
    val (lo, hi) = envelope.getOrElse {
      val mm = g.agg(min(col(valueCol).cast("double")),
        max(col(valueCol).cast("double"))).head()
      if (mm.isNullAt(0)) (0.0, 0.0)
      else (mm.getDouble(0), mm.getDouble(1))
    }
    val cell =
      if (!(hi > lo) || !java.lang.Double.isFinite(hi - lo)) lit(0L)
      else least(lit(cells - 1L), greatest(lit(0L),
        floor((col(valueCol).cast("double") - lit(lo)) /
          lit((hi - lo) / cells)).cast("long")))
    val celled = g.withColumn("_cell", cell)
    // per-cell totals of every summed expr + the cell's first value;
    // offsets cumulate EXCLUSIVELY over the bounded cell frame
    val offAggs = sums.zipWithIndex.map { case ((_, e), i) =>
      sum(e).as(s"_t$i") } :+ min(col(valueCol)).as("_first_v")
    val offWindow = Window.orderBy("_cell")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs0 = celled.groupBy(col("_cell"))
      .agg(offAggs.head, offAggs.tail: _*)
    val offs1 = sums.zipWithIndex.foldLeft(offs0) {
      case (df, ((_, _), i)) => df.withColumn(s"_off$i",
        sum(col(s"_t$i")).over(offWindow))
    }
    val offs = (if (withNextV)
        offs1.withColumn("_next_first",
          lead(col("_first_v"), 1).over(Window.orderBy("_cell")))
      else offs1)
      .drop((sums.indices.map(i => s"_t$i") :+ "_first_v"): _*)
    val inCell = Window.partitionBy("_cell").orderBy(valueCol)
      .rowsBetween(Window.unboundedPreceding, 0)
    val withCums = sums.zipWithIndex.foldLeft(
        celled.join(broadcast(offs), Seq("_cell"))) {
      case (df, ((name, e), i)) => df.withColumn(name,
        sum(e).over(inCell) +
          coalesce(col(s"_off$i"), e * lit(0L)))
    }
    val withLead = if (withNextV)
        withCums.withColumn("next_v",
          coalesce(lead(col(valueCol), 1).over(
            Window.partitionBy("_cell").orderBy(valueCol)),
            col("_next_first")))
      else withCums
    withLead.drop((sums.indices.map(i => s"_off$i").toSeq ++
      Seq("_cell", "_next_first")): _*)
  }

  /** The KS arithmetic over a prebuilt (v, ca, cb) value-count frame —
    * shared by the two-segment batch form and the streaming drift
    * monitor so the cumulative/quantization semantics cannot drift
    * (the psiFromCounts discipline). Cumulatives run through the
    * distributed [[celledCums]] (bit-equal to the former global
    * window; the MaxWindowValues guard still bounds the frame). */
  private def ksFromCounts(gIn: DataFrame): DataFrame = {
    // lazy pin: the celled envelope fetch materializes it in the same
    // job; the cum pass and totals read the blocks — the lineage (a
    // corpus scan in the standalone form) still runs once (r15)
    val g = gIn.localCheckpoint(false)
    ksFinish(celledCums(g, "v",
      Seq("cum_a" -> col("ca"), "cum_b" -> col("cb")),
      withNextV = false), g, "ksFromCounts")
  }

  /** The KS statistic's scalar tail over columns named (dnum, na,
    * nb) — ONE definition shared by [[ksFinish]] and [[driftPanel]]'s
    * fused finish (the single-source arithmetic rule). */
  private val ksStatExpr = "(1000000 * dnum) div (na * nb)"

  /** The KS finish over a frame already carrying INCLUSIVE cum_a /
    * cum_b (and the g frame for totals) — shared by the standalone
    * form and [[driftPanel]]'s single shared cum pass, so the
    * arithmetic exists once. */
  private def ksFinish(c: DataFrame, g: DataFrame,
                       op: String): DataFrame = {
    val totals = g.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"),
        count(lit(1)).as("nvals"))
      .withColumn("_one",
        guardedOneKey(col("nvals"), MaxWindowValues, op))
    c.withColumn("_one",
        pmod(col("cum_a") + col("cum_b"), lit(1L)).cast("int"))
      .join(broadcast(totals), "_one")
      .groupBy("na", "nb", "nvals")
      .agg(max(abs(col("cum_a") * col("nb") - col("cum_b") * col("na")))
        .as("dnum"))
      .select(
        when(col("na") > 0 && col("nb") > 0,
          expr(ksStatExpr)).as("ks_micro"),
        col("na").as("n_a"), col("nb").as("n_b"),
        col("nvals").as("n_values"))
  }

  /** The reference side of the KS drift monitor: the pinned-once
    * per-value counts a stream (or nightly batch) scores arrivals
    * against. The KS analogue of [[referenceHistogram]] — per
    * DISTINCT VALUE, not per bucket, since KS is bucket-free; the
    * frame is bounded by value cardinality (quantize continuous
    * values first, the ksMicro contract). */
  def referenceValueCounts(reference: DataFrame, value: Column)
      : DataFrame =
    reference.groupBy(value.as("v")).agg(count(lit(1)).as("cb"))

  /** KS of one arriving frame against prebuilt reference value counts
    * — the EXACT computation [[ksDriftStream]]'s per-batch body
    * runs per micro-batch, exposed as a batch operator so the gate is
    * oracle-checkable outside a streaming harness. The value domain
    * is the FULL OUTER join of the two observed value sets (a value
    * seen on either side is a CDF step for both; missing counts are
    * 0), then the shared [[ksFromCounts]] arithmetic. */
  def ksAgainstReference(batch: DataFrame, refCounts: DataFrame,
                         value: Column): DataFrame = {
    val bh = batch.groupBy(value.as("v")).agg(count(lit(1)).as("ca"))
    ksFromCounts(bh.join(refCounts, Seq("v"), "full_outer")
      .select(col("v"),
        coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb")))
  }

  /** Streaming KS drift monitor: every micro-batch's `value`
    * distribution is KS-scored against a REFERENCE corpus's pinned
    * value counts; one (batch_id, ks_micro, n_a, n_b, n_values) row
    * per batch to `sink`. The bucket-free companion of
    * [[psiDriftStream]] — same pinned-reference shape, and the sink
    * body IS [[ksAgainstReference]], so batch and stream cannot
    * drift. */
  def ksDriftStream(docs: DataFrame, reference: DataFrame,
                    value: Column)(sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val refC = referenceValueCounts(reference, value).localCheckpoint()
    Monitor.each(docs)(ksAgainstReference(_, refC, value))(sink)
  }

  /** The exact q-quantile of one arriving frame — the computation
    * [[quantileDriftStream]]'s per-batch body runs per micro-batch,
    * exposed as a batch operator so the monitor is oracle-checkable
    * outside a streaming harness (the ksAgainstReference convention).
    * One row (value, n, k) via the narrowing selection operator. */
  def quantileOfBatch(batch: DataFrame, value: Column, q: Double,
                      buckets: Int = 128,
                      threshold: Long = 100000): DataFrame =
    graft.ops.DistributedSelect.exactQuantile(
      batch.select(value.as("_qv")), "_qv", q, buckets, threshold)

  /** Streaming exact-quantile drift monitor: every micro-batch
    * resolves the EXACT q-quantile of its `value` column — the
    * location analogue of [[ksDriftStream]] (KS flags a shape change;
    * the median/P99 trend says which way and how far the location
    * moved, in the value's own units). The narrowing selection runs
    * its driver-coordinated rounds INSIDE the per-batch body (a micro-batch
    * is an ordinary DataFrame, so multi-job operators compose), and
    * the sink body IS [[quantileOfBatch]], so batch and stream cannot
    * drift. One (value, n, k, batch_id) row per batch to `sink`. */
  def quantileDriftStream(docs: DataFrame, value: Column, q: Double,
                          buckets: Int = 128,
                          threshold: Long = 100000)
                         (sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    Monitor.each(docs)(quantileOfBatch(_, value, q, buckets, threshold))(
      sink)

  /** Graded ranking-quality metrics of a retrieval `run` against a
    * relevance judgment set `qrels`: one row (ndcg_micro, mrr_micro,
    * recall_micro, n_relevant, n_run). `run` carries (id, rank)
    * (1-based, already cut to its list length); `qrels` carries
    * (id, rel) with graded integer relevance ≥ 0 (0 = not relevant).
    * The offline eval harness for any retrieval stage the pipeline
    * ships (BM25 r1, ANN e-family, hybrid r2): NDCG@k grades the
    * ranking, MRR@k the first hit, recall@k the coverage.
    *
    * DCG terms (2^rel − 1)/log2(rank+1) quantize to integer
    * micro-units BEFORE summation (the d28 discipline: the sum is
    * order-independent and engine-replayable); NDCG is then the
    * integer floor-ratio of the micro sums, MRR/recall pure integer
    * ratios. The ideal-DCG window orders qrels by rel desc — ties in
    * rel are interchangeable there (equal gain terms), so the
    * tie-break never changes idcg. Shape: `run` is list-sized
    * (top-k), so every frame here is bounded; qrels collapses to its
    * relevant subset before the ideal ranking. Degenerate contracts:
    * no relevant docs → ndcg/recall NULL; no hit in the top k →
    * mrr_micro 0. */
  def ndcgMrrMicro(run: DataFrame, qrels: DataFrame, k: Int)
      : DataFrame = {
    require(k >= 1, "k must be >= 1")
    // the ideal-DCG ranking window rides a limit(k) frame — assert
    // the parameter bound adjacent to the window's contract (r15)
    require(k <= MaxWindowValues,
      s"ndcgMrrMicro k=$k exceeds $MaxWindowValues — the ideal-DCG " +
        "window is bounded by k (the bounded-window contract)")
    def dcgTerm(rel: Column, rank: Column): Column =
      round(lit(1e6) * (pow(lit(2.0), rel.cast("double")) - 1.0) /
        log2(rank.cast("double") + 1.0)).cast("long")
    val joined = run.join(qrels, Seq("id"), "left")
      .select(col("rank"), coalesce(col("rel"), lit(0L)).as("rel"))
    val runAgg = joined.agg(
      sum(when(col("rank") <= k, dcgTerm(col("rel"), col("rank")))
        .otherwise(0L)).as("dcg_micro"),
      min(when(col("rank") <= k && col("rel") > 0, col("rank")))
        .as("first_rel"),
      sum(when(col("rank") <= k && col("rel") > 0, 1L).otherwise(0L))
        .as("hits"),
      count(lit(1)).as("n_run"))
      .withColumn("_one", pmod(col("n_run"), lit(1L)).cast("int"))
    val rel = qrels.filter(col("rel") > 0)
    // ideal DCG needs only the k best judgments: a top-k cut by
    // (rel desc, id asc) — TakeOrderedAndProject, per-partition heaps —
    // so the ranking window rides k rows, never the full relevant set
    val wi = Window.orderBy(col("rel").desc, col("id").asc)
    val idealAgg = rel.orderBy(col("rel").desc, col("id").asc).limit(k)
      .withColumn("irank", row_number().over(wi))
      .agg(coalesce(sum(dcgTerm(col("rel"), col("irank"))), lit(0L))
        .as("idcg_micro"))
    val nrelAgg = rel.agg(count(lit(1)).as("n_relevant"))
    val idealSide = idealAgg
      .withColumn("_one", pmod(col("idcg_micro"), lit(1L)).cast("int"))
      .join(nrelAgg
        .withColumn("_one", pmod(col("n_relevant"), lit(1L)).cast("int")),
        "_one")
    runAgg.join(broadcast(idealSide), "_one")
      .select(
        when(col("idcg_micro") > 0,
          expr("(1000000 * dcg_micro) div idcg_micro")).as("ndcg_micro"),
        coalesce(expr("1000000 div first_rel"), lit(0L)).as("mrr_micro"),
        when(col("n_relevant") > 0,
          expr("(1000000 * hits) div n_relevant")).as("recall_micro"),
        col("n_relevant"), col("n_run"))
  }

  /** Kendall tau-b rank agreement between two scorings of the SAME
    * bounded item set: one row (tau_micro, n, concordant, discordant).
    * The retrieval-comparison metric — how much do the lexical and
    * semantic rankers agree on a candidate list? — and the tie-aware
    * form (tau-b), since scores round to 6 decimals and tie freely.
    *
    * `a` and `b` each carry (id, score); items are matched by id
    * (inner join — both rankers must score the item). Contract: the
    * inputs are LIST-SIZED frames (top-k results, judgment pools) —
    * the pair enumeration is n(n−1)/2 and is meant for n in the
    * hundreds, not the corpus; the corpus-scale analogue is sampling
    * pairs, not this operator. Everything is integer until the final
    * division: nc, nd, and the tie corrections count pairs exactly,
    * and tau_b = (nc − nd)/√((n0−n1)(n0−n2)) micro-rounds once.
    * Degenerate contract: if either ranking is all-ties (n0 = n1 or
    * n0 = n2) tau is undefined → NULL, counts still reported. */
  def kendallTauBMicro(a: DataFrame, b: DataFrame): DataFrame = {
    val j = a.select(col("id").as("_id"), col("score").as("_sa"))
      .join(b.select(col("id").as("_id"), col("score").as("_sb")),
        "_id")
    // pair enumeration via a single-bucket BroadcastHashJoin (the
    // attribute-dependent `_one` key) + the i<j filter — never a
    // BroadcastNestedLoopJoin plan, and the broadcast side is the
    // list-sized frame the contract bounds
    val p1 = j.select(col("_id").as("_i"), col("_sa").as("_a1"),
      col("_sb").as("_b1"),
      pmod(col("_id"), lit(1L)).cast("int").as("_one"))
    val p2 = j.select(col("_id").as("_j"), col("_sa").as("_a2"),
      col("_sb").as("_b2"),
      pmod(col("_id"), lit(1L)).cast("int").as("_one"))
    val pairs = p1.join(broadcast(p2), "_one")
      .filter(col("_i") < col("_j"))
    val cmpA = when(col("_a1") < col("_a2"), -1)
      .when(col("_a1") > col("_a2"), 1).otherwise(0)
    val cmpB = when(col("_b1") < col("_b2"), -1)
      .when(col("_b1") > col("_b2"), 1).otherwise(0)
    // coalesce: with < 2 matched items the pair frame is EMPTY and the
    // global agg's sums come back NULL — the degenerate contract says
    // counts are still reported (as 0), and a NULL nc would also null
    // the `_one` join key below, silently emptying the result
    val agg = pairs.agg(
      coalesce(sum(when(cmpA * cmpB > 0, 1L).otherwise(0L)), lit(0L)).as("nc"),
      coalesce(sum(when(cmpA * cmpB < 0, 1L).otherwise(0L)), lit(0L)).as("nd"),
      coalesce(sum(when(cmpA === 0, 1L).otherwise(0L)), lit(0L)).as("ta"),
      coalesce(sum(when(cmpB === 0, 1L).otherwise(0L)), lit(0L)).as("tb"),
      count(lit(1)).as("n0"))
    val nAgg = j.agg(count(lit(1)).as("n"))
      .withColumn("_one", pmod(col("n"), lit(1L)).cast("int"))
    agg.withColumn("_one",
        pmod(col("n0") + col("nc"), lit(1L)).cast("int"))
      .join(broadcast(nAgg), "_one")
      .select(
        when(col("n0") > col("ta") && col("n0") > col("tb"),
          round(lit(1e6) * (col("nc") - col("nd")) /
            sqrt((col("n0") - col("ta")).cast("double") *
              (col("n0") - col("tb")).cast("double"))).cast("long"))
          .as("tau_micro"),
        col("n"), col("nc").as("concordant"), col("nd").as("discordant"))
  }

  /** The reference side of the drift monitor: the pinned-once
    * histogram a stream (or a nightly batch job) scores every arrival
    * against. Exposed so batch and stream share one construction. */
  def referenceHistogram(reference: DataFrame, bucket: Column): DataFrame =
    reference.groupBy(bucket.as("bucket")).agg(count(lit(1)).as("cb"))

  /** PSI of one arriving frame against a prebuilt reference histogram
    * — the EXACT computation [[psiDriftStream]]'s per-batch body
    * runs per micro-batch, exposed as a batch operator so the gate's
    * semantics are oracle-checkable outside a streaming harness. The
    * histogram domain is the FULL OUTER join of the two bucket sets
    * (buckets seen on either side enter the smoothed PSI, missing
    * cells count 0), then the shared [[psiFromCounts]] arithmetic. */
  def psiAgainstReference(batch: DataFrame, refH: DataFrame,
                          bucket: Column): DataFrame = {
    val bh = batch.groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("ca"))
    val h = bh.join(refH, Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    psiFromCounts(h)
  }

  /** Streaming drift monitor: every micro-batch's `bucket`
    * distribution is PSI-scored against a REFERENCE corpus's
    * histogram (built and pinned once — the reference is never
    * re-scanned), and one (batch_id, psi_micro, n_a, n_b, n_buckets)
    * row goes to `sink` per batch. The alerting-side companion of
    * [[psiMicro]]: same smoothing, same quantization, via the shared
    * arithmetic ([[psiAgainstReference]] — the sink body IS the batch
    * operator, so the two forms cannot drift). Buckets observed in
    * EITHER side enter the smoothed domain, exactly as the batch
    * form. */
  def psiDriftStream(docs: DataFrame, reference: DataFrame,
                     bucket: Column)(sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val refH = referenceHistogram(reference, bucket).localCheckpoint()
    Monitor.each(docs)(psiAgainstReference(_, refH, bucket))(sink)
  }

  /** Cohen's kappa between two BINARY raters — the agreement audit a
    * labeling pipeline runs when two quality gates (a heuristic and a
    * model, or two annotators) disagree on the keep set: raw overlap
    * overstates agreement when both raters say "keep" to almost
    * everything, kappa discounts the chance-agreement floor.
    *
    * One aggregation pass builds the 2×2 contingency table; kappa
    * derives from it alone:
    *   kappa = (n·(n11+n00) − pe) / (n² − pe),
    *   pe    = (n11+n10)·(n11+n01) + (n00+n01)·(n00+n10).
    * All counts and products accumulate EXACTLY (longs into
    * decimal(38,0) products, so a 10¹² -row corpus cannot overflow
    * n²), and only the final single division is floating — the q36
    * integer-co-moment discipline applied to agreement statistics.
    * Rows where either rater is NULL are excluded (a rater that
    * abstains is not a rater that said no). Degenerate contract: if
    * both raters are constant (n² == pe) kappa is undefined → NULL;
    * the table is still reported. Returns one row
    * (n, n11, n10, n01, n00, kappa). */
  def cohensKappa(df: DataFrame, raterA: Column,
                  raterB: Column): DataFrame = {
    val a = raterA.cast("boolean")
    val b = raterB.cast("boolean")
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    df.filter(a.isNotNull && b.isNotNull)
      .agg(
        count(lit(1)).as("n"),
        coalesce(sum(when(a && b, 1L).otherwise(0L)), lit(0L)).as("n11"),
        coalesce(sum(when(a && !b, 1L).otherwise(0L)), lit(0L)).as("n10"),
        coalesce(sum(when(!a && b, 1L).otherwise(0L)), lit(0L)).as("n01"),
        coalesce(sum(when(!a && !b, 1L).otherwise(0L)), lit(0L)).as("n00"))
      .select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
        round(
          (dec(col("n")) * dec(col("n11") + col("n00")) -
            (dec(col("n11") + col("n10")) * dec(col("n11") + col("n01")) +
              dec(col("n00") + col("n01")) * dec(col("n00") + col("n10"))))
            .cast("double") /
          nullif(
            (dec(col("n")) * dec(col("n")) -
              (dec(col("n11") + col("n10")) * dec(col("n11") + col("n01")) +
                dec(col("n00") + col("n01")) * dec(col("n00") + col("n10"))))
              .cast("double"),
            lit(0.0d)),
          6).as("kappa"))
  }

  /** One micro-batch of the streaming KMV distinct-count monitor —
    * the [[kmvDistinctStream]] step, shared with the q66 batch-replay
    * entry (the ksAgainstReference convention): aggregate the batch's
    * KMV sketch (one map-side-combining pass over the batch), union
    * it into the standing sketch (k longs of driver-side state — a
    * bounded parameter, never data; union is associative and
    * commutative so batching order cannot change the final sketch),
    * and report (n_in_sketch, est_distinct) for the stream so far,
    * with the merged sketch. The estimate uses the same IEEE ops as
    * the column form, so the streaming report is bit-identical to a
    * one-shot q25 sketch over the same rows. */
  def kmvBatchUpdate(batch: DataFrame, hash: Column, k: Int,
                     state: Seq[Long]): (DataFrame, Seq[Long]) = {
    val sk = batch.agg(graft.functions.KMinValues.agg(k, hash))
      .head().getSeq[Long](0)
    val merged = graft.functions.KMinValues.mergeSketches(state, sk, k)
    val est = BigDecimal(graft.functions.KMinValues.estimateOf(merged, k))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val spark = batch.sparkSession
    import spark.implicits._
    (Seq((merged.length.toLong, est)).toDF("n_in_sketch", "est_distinct"),
      merged)
  }

  /** Streaming approximate-distinct monitor: every micro-batch folds
    * its KMV sketch into the standing one and reports the running
    * estimate — "how many distinct users/documents has this stream
    * seen" with O(k) state, the mergeable-sketch streaming pattern
    * (HLL-style monitoring, but KMV so the oracle replays it
    * hash-exactly). */
  def kmvDistinctStream(docs: DataFrame, hash: Column, k: Int)
                       (sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    Monitor.fold(docs, Seq.empty[Long])(kmvBatchUpdate(_, hash, k, _))(
      sink)

  /** One micro-batch of [[kllQuantileStream]]: sketch the arriving
    * frame (one bounded-state aggregation), merge into the standing
    * sketch, report the running quantile estimates with the merged
    * sketch. The fetched sketch is O(k) longs — a bounded parameter,
    * never data. */
  private[graft] def kllBatchUpdate(batch: DataFrame, value: Column,
      k: Int, qsPermille: Seq[Long],
      state: graft.functions.KllState)
      : (DataFrame, graft.functions.KllState) = {
    import graft.functions.KllSketch
    val sk = KllSketch.fromRow(
      batch.agg(KllSketch.agg(k, value)).head().getStruct(0))
    val merged = KllSketch.mergeStates(state, sk, k)
    val w = KllSketch.totalWeight(merged)
    val nr = KllSketch.numRetained(merged).toLong
    val spark = batch.sparkSession
    import spark.implicits._
    (qsPermille.map(q => (q,
        KllSketch.quantileOf(merged, q).getOrElse(0L), w, nr))
      .toDF("q_permille", "est", "n_seen", "n_retained"), merged)
  }

  /** Streaming quantile monitor over a KLL sketch: every micro-batch
    * folds its own sketch into the standing one and reports running
    * quantile estimates — the BOUNDED-state answer to the question
    * q56 answers exactly (q56 re-runs an exact narrowing selection
    * per batch: right for audits, corpus-sized work per batch; this
    * keeps O(k) state and touches each row once — what a 100 TB
    * stream actually holds). Same pairing as [[kmvDistinctStream]]/
    * q25: the sketch monitors, the exact twin verifies. KLL merge is
    * not idempotent (a replayed batch would double-count its weight);
    * the [[Monitor]] id guard applies each batch at most once. */
  def kllQuantileStream(docs: DataFrame, value: Column, k: Int,
                        qsPermille: Seq[Long])
                       (sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    Monitor.fold(docs, new graft.functions.KllSketch(k).zero)(
      kllBatchUpdate(_, value, k, qsPermille, _))(sink)

  /** One micro-batch of [[kllGroupedQuantileStream]]: ONE grouped
    * aggregation sketches the arriving frame per domain, each
    * domain's sketch folds into its standing one, and the report
    * carries every domain's running quantile, with the merged map.
    * The fetched state is one O(k) sketch per domain — bounded by
    * mixture cardinality, enforced by `maxGroups`. */
  private[graft] def kllGroupedBatchUpdate(batch: DataFrame,
      group: Column, value: Column, k: Int, qPermille: Long,
      state: Map[String, graft.functions.KllState],
      maxGroups: Int)
      : (DataFrame, Map[String, graft.functions.KllState]) = {
    import graft.functions.KllSketch
    val perGroup = batch
      .filter(group.isNotNull && value.isNotNull)
      .groupBy(group.cast("string").as("g"))
      .agg(KllSketch.agg(k, value).as("sk"))
      .collect() // one bounded sketch per arriving domain, never data
      .map(r => r.getString(0) -> KllSketch.fromRow(r.getStruct(1)))
    val merged = state ++ perGroup.map { case (g, sk) =>
      g -> state.get(g).map(KllSketch.mergeStates(_, sk, k))
        .getOrElse(sk)
    }
    require(merged.size <= maxGroups,
      s"domain cardinality ${merged.size} exceeds maxGroups=" +
        s"$maxGroups — the standing state must stay bounded")
    val rows = merged.toSeq.sortBy(_._1).map { case (g, st) =>
      (g, qPermille, KllSketch.quantileOf(st, qPermille).getOrElse(0L),
        KllSketch.totalWeight(st), KllSketch.numRetained(st).toLong)
    }
    val spark = batch.sparkSession
    import spark.implicits._
    (rows.toDF("g", "q_permille", "est", "n_seen", "n_retained"),
      merged)
  }

  /** PER-DOMAIN streaming quantile monitor — the production
    * drift-watch shape: one bounded KLL sketch per source held
    * forever, each micro-batch folded in through ONE grouped
    * aggregation, every batch reporting every domain's running
    * quantile ([[kllQuantileStream]] is the single-column form; q108
    * is this monitor's one-shot batch twin and q44 the exact grouped
    * twin). State is |domains| × O(k) longs — bounded by mixture
    * cardinality (`maxGroups` enforces it), not by stream length. */
  def kllGroupedQuantileStream(docs: DataFrame, group: Column,
      value: Column, k: Int, qPermille: Long, maxGroups: Int = 4096)
      (sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    Monitor.fold(docs, Map.empty[String, graft.functions.KllState])(
      kllGroupedBatchUpdate(_, group, value, k, qPermille, _,
        maxGroups))(sink)

  /** Exact 1-D Wasserstein-1 (earth mover's) distance between two
    * segments of an INTEGER-VALUED column — the drift metric that
    * completes the family: KS ([[ksMicro]]) is the max CDF gap (shape
    * shift anywhere), PSI is binned, W1 INTEGRATES the gap, so it
    * weighs how FAR mass moved, in the column's own units (a 5-char
    * shift in n_chars scores 5× a 1-char shift; KS can't tell them
    * apart). W1 = ∫|F_A − F_B| dv over the merged support.
    *
    * Everything is integer-exact until one final division: on the
    * value-distinct frame (the ksMicro shape — window bounded by
    * value cardinality; quantize continuous columns first), each
    * support interval contributes |cumA·nB − cumB·nA|·(v_next − v),
    * an exact integer accumulated in decimal(38,0); the output is
    * integer micro floor division, so hash-exact cross-engine.
    * Returns (w1_micro, n_a, n_b, n_values) — w1_micro is 1e-6 VALUE
    * UNITS (not a probability); NULL when either segment is empty. */
  def wasserstein1Micro(df: DataFrame, value: Column, segment: Column,
                        segA: String, segB: String): DataFrame =
    w1FromCounts(df.filter(segment.isin(segA, segB) && value.isNotNull)
      .groupBy(value.cast("long").as("v"))
      .agg(sum(when(segment === segA, 1L).otherwise(0L)).as("ca"),
        sum(when(segment === segB, 1L).otherwise(0L)).as("cb")))

  /** W1 of one arriving frame against prebuilt reference value counts
    * ([[referenceValueCounts]] over the cast-to-long column) — the
    * exact computation [[w1DriftStream]]'s per-batch body runs per
    * micro-batch, exposed as a batch operator so the monitor is
    * oracle-checkable outside a streaming harness (the
    * ksAgainstReference convention; full-outer value domain, missing
    * counts are 0). */
  def w1AgainstReference(batch: DataFrame, refCounts: DataFrame,
                         value: Column): DataFrame = {
    val bh = batch.filter(value.isNotNull)
      .groupBy(value.cast("long").as("v"))
      .agg(count(lit(1)).as("ca"))
    w1FromCounts(bh.join(refCounts, Seq("v"), "full_outer")
      .select(col("v"),
        coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb")))
  }

  /** Streaming W1 drift monitor: each micro-batch's integer-valued
    * distribution scored by earth mover's distance against a pinned
    * reference — the location-sensitive companion of [[ksDriftStream]]
    * (KS flags that SOMETHING moved; W1 says how FAR, in the column's
    * units). One (w1_micro, n_a, n_b, n_values, batch_id) row per
    * batch. */
  def w1DriftStream(docs: DataFrame, reference: DataFrame,
                    value: Column)(sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val refC = referenceValueCounts(reference, value.cast("long"))
      .localCheckpoint()
    Monitor.each(docs)(w1AgainstReference(_, refC, value))(sink)
  }

  /** The W1 arithmetic over a prebuilt (v, ca, cb) value-count frame —
    * shared by the two-segment batch form and the reference monitor
    * (the ksFromCounts discipline). */
  private def w1FromCounts(gIn: DataFrame): DataFrame = {
    // lazy pin: the celled envelope fetch materializes it (r15)
    val g = gIn.localCheckpoint(false)
    w1Finish(celledCums(g, "v",
      Seq("cum_a" -> col("ca"), "cum_b" -> col("cb")),
      withNextV = true), g, "w1FromCounts")
  }

  /** The W1 statistic's scalar tail over columns named (wnum, na,
    * nb) — shared by [[w1Finish]] and [[driftPanel]]'s fused finish
    * (the ksStatExpr discipline). */
  private val w1StatExpr =
    "(1000000 * coalesce(wnum, CAST(0 AS DECIMAL(38,0))))" +
      " div (cast(na as decimal(38,0)) * nb)"

  /** The W1 finish over a frame carrying INCLUSIVE cum_a / cum_b and
    * next_v — shared by the standalone form and [[driftPanel]]'s
    * single cum pass (the ksFinish discipline). */
  private def w1Finish(cIn: DataFrame, g: DataFrame,
                       op: String): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val c = cIn.filter(col("next_v").isNotNull)
    val totals = g.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"),
        count(lit(1)).as("nvals"))
      .withColumn("_one",
        guardedOneKey(col("nvals"), MaxWindowValues, op))
    // terms grouped on the constant key, then a LEFT join from totals:
    // a single-support-value input has no intervals (empty terms) and
    // must report W1 = 0, not an empty frame
    val terms = c
      .withColumn("_one",
        pmod(col("cum_a") + col("cum_b"), lit(1L)).cast("int"))
      .join(broadcast(totals.select("_one", "na", "nb")), "_one")
      .groupBy("_one")
      .agg(sum(dec(abs(col("cum_a") * col("nb") -
          col("cum_b") * col("na"))) *
        dec(col("next_v") - col("v"))).as("wnum"))
    totals.join(terms, Seq("_one"), "left")
      .select(
        when(col("na") > 0 && col("nb") > 0,
          expr(w1StatExpr)).as("w1_micro"),
        col("na").as("n_a"), col("nb").as("n_b"),
        col("nvals").as("n_values"))
  }

  /** DeLong's test (DeLong, DeLong & Clarke-Pearson, Biometrics 1988)
    * comparing the ROC-AUCs of TWO scores over the SAME labeled rows —
    * the decision tool behind "is the new quality model actually
    * better than the old one, or is the AUC gap noise?": correlated
    * AUCs (same examples) need the paired structural-component
    * covariance, not two independent variances.
    *
    * Everything is tie-aware integer arithmetic until the last few
    * IEEE ops. Per positive i and score k the structural component is
    * kept DOUBLED-and-scaled: W10_k(i) = 2·#{neg < s} + #{neg = s}
    * (an integer in [0, 2n]) = 2n·V10; the per-row W values come from
    * value-distinct tables (the rocAuc shape — windows are bounded by
    * score cardinality, quantize continuous scores first) joined back
    * on score keys, and ONE aggregation per class forms exact
    * decimal(38,0) sums and co-moments. Driver-side (1-row parameter
    * fetches, the triangleCensus convention) the closed forms follow
    * in a FIXED op order the oracle mirrors token for token:
    *   AUC_k = ΣW10_k / (2mn),
    *   S10_kl·m(m−1)(2n)² = m·ΣW_kW_l − ΣW_k·ΣW_l  (exact integers),
    *   var(ΔAUC) = (S10_11+S10_22−2S10_12)/m + (S01_11+S01_22−2S01_12)/n,
    *   z = ΔAUC / √var.
    * Degenerate contract: single-class input → NULL aucs and z;
    * m < 2 or n < 2 or var ≤ 0 (e.g. identical scores) → aucs
    * reported, z NULL. Rows with NULL label or NULL/NaN in either
    * score are excluded (pairwise-complete). Returns one row
    * (n_pos, n_neg, auc1, auc2, delta_auc, z). */
  def delongAucCompare(df: DataFrame, score1: Column, score2: Column,
                       label: Column): DataFrame = {
    val yb = label.cast("boolean")
    val c1 = score1.cast("double")
    val c2 = score2.cast("double")
    // pinned: the 3-column projection (two doubles + the label) is
    // consumed by the mn fetch, both value tables, and both class
    // aggregations — without the pin the upstream lineage (token
    // splits in the q63 entry) re-executes per consumer
    val data = df.filter(yb.isNotNull && c1.isNotNull && !isnan(c1) &&
        c2.isNotNull && !isnan(c2))
      .select(c1.as("s1"), c2.as("s2"),
        when(yb, 1L).otherwise(0L).as("y"))
      // lazy pin: the mn fetch below materializes it (r15)
      .localCheckpoint(false)
    val mnRow = data.agg(coalesce(sum(col("y")), lit(0L)),
      count(lit(1))).head()
    val m = mnRow.getLong(0)
    val n = mnRow.getLong(1) - m
    val spark = df.sparkSession
    import spark.implicits._
    def out(auc1: Option[Double], auc2: Option[Double],
            delta: Option[Double], z: Option[Double]): DataFrame =
      Seq((m, n)).toDF("n_pos", "n_neg").select(
        col("n_pos"), col("n_neg"),
        lit(auc1.map(Double.box).orNull).cast("double").as("auc1"),
        lit(auc2.map(Double.box).orNull).cast("double").as("auc2"),
        lit(delta.map(Double.box).orNull).cast("double")
          .as("delta_auc"),
        lit(z.map(Double.box).orNull).cast("double").as("z"))
    if (m == 0 || n == 0) return out(None, None, None, None)

    def dec(c: Column): Column = c.cast("decimal(38,0)")
    // (value, W10, W01) per distinct score value of one column —
    // inclusive cums through the distributed celledCums (r14; the
    // distinct-score frame pins so the envelope fetch and the main
    // pass share one lineage execution)
    def wTable(scol: String): DataFrame = {
      val g = data.groupBy(col(scol).as("_v")).agg(
          coalesce(sum(col("y")), lit(0L)).as("_pos"),
          (count(lit(1)) - coalesce(sum(col("y")), lit(0L)))
            .as("_neg"))
        // lazy pin: the celled envelope fetch materializes it (r15)
        .localCheckpoint(false)
      celledCums(g, "_v", Seq("_cn" -> col("_neg"),
          "_cp" -> col("_pos")), withNextV = false)
        .select(col("_v"),
          (lit(2L) * col("_cn") - col("_neg")).as("_w10"),
          (lit(2L) * (lit(m) - col("_cp")) + col("_pos")).as("_w01"))
    }
    // value-distinct tables built ONCE and pinned: each has two
    // consumers (the positive and negative class aggregations)
    // lazy pins: the first class aggregation materializes both (r15)
    val w1 = wTable("s1").localCheckpoint(false)
    val w2 = wTable("s2").localCheckpoint(false)
    def sums(wcol: String, yVal: Long): (BigDecimal, BigDecimal,
        BigDecimal, BigDecimal, BigDecimal) = {
      val t1 = w1.select(col("_v").as("s1"), col(wcol).as("_wa"))
      val t2 = w2.select(col("_v").as("s2"), col(wcol).as("_wb"))
      val r = data.filter(col("y") === yVal)
        .join(t1, Seq("s1")).join(t2, Seq("s2"))
        .agg(sum(dec(col("_wa"))), sum(dec(col("_wb"))),
          sum(dec(col("_wa")) * dec(col("_wa"))),
          sum(dec(col("_wb")) * dec(col("_wb"))),
          sum(dec(col("_wa")) * dec(col("_wb"))))
        .head()
      (BigDecimal(r.getDecimal(0)), BigDecimal(r.getDecimal(1)),
        BigDecimal(r.getDecimal(2)), BigDecimal(r.getDecimal(3)),
        BigDecimal(r.getDecimal(4)))
    }
    val (sa1, sa2, saa, sbb, sab) = sums("_w10", 1L)
    val (ta1, ta2, taa, tbb, tab) = sums("_w01", 0L)

    // fixed IEEE op order below — the oracle mirrors it token for token
    val auc1 = sa1.toDouble / (2.0 * m * n)
    val auc2 = sa2.toDouble / (2.0 * m * n)
    val delta = (sa1 - sa2).toDouble / (2.0 * m * n)
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    val z: Option[Double] =
      if (m < 2 || n < 2) None
      else {
        val mB = BigDecimal(m); val nB = BigDecimal(n)
        val den10 = m.toDouble * (m - 1) * (2.0 * n) * (2.0 * n)
        val den01 = n.toDouble * (n - 1) * (2.0 * m) * (2.0 * m)
        val s1011 = (mB * saa - sa1 * sa1).toDouble / den10
        val s1022 = (mB * sbb - sa2 * sa2).toDouble / den10
        val s1012 = (mB * sab - sa1 * sa2).toDouble / den10
        val s0111 = (nB * taa - ta1 * ta1).toDouble / den01
        val s0122 = (nB * tbb - ta2 * ta2).toDouble / den01
        val s0112 = (nB * tab - ta1 * ta2).toDouble / den01
        val variance = (s1011 + s1022 - 2.0 * s1012) / m +
          (s0111 + s0122 - 2.0 * s0112) / n
        if (variance > 0) Some(r6(delta / math.sqrt(variance)))
        else None
      }
    out(Some(r6(auc1)), Some(r6(auc2)), Some(r6(delta)), z)
  }

  /** Exact Spearman rank correlation with AVERAGE-tie ranks (the
    * textbook tie treatment — Spearman rho = Pearson over midranks) —
    * the monotone-association companion of [[kendallTauBMicro]] that
    * costs aggregations instead of pair enumeration, so it runs at
    * corpus scale: does a quality score rank documents the way token
    * count does, regardless of either scale's shape?
    *
    * Plan shape, all value-table-sized after the first aggregation:
    *   1. one groupBy collapses rows to the DISTINCT (x, y) pair
    *     table with counts (map-side combine absorbs the mass);
    *   2. per-column value tables derive midranks WITHOUT a global
    *     window: values bucket into ≤1024 monotone equi-width cells
    *     (min/max is a 1-row parameter fetch), cell offsets cumulate
    *     over the ≤1024-row cell frame, in-cell prefix sums window
    *     per-cell (tasks of D/B values, never one task of D — the
    *     bucketedRank argument at value-table granularity). Midrank
    *     doubling keeps everything integral: r2 = 2·cumBefore +
    *     cnt + 1, and the ×2 cancels in the correlation;
    *   3. the pair table joins both D-row rank tables on keys it
    *     already carries and one aggregation forms the q36 exact
    *     decimal(38,0) co-moments; the only float is the final
    *     division.
    * NULL/NaN on either side excludes the row (a pairwise-complete
    * contract, like every agreement operator here). Degenerate: a
    * constant column has zero rank variance → rho NULL, n still
    * reported. Returns one row (n_rows, rho). */
  def spearmanRho(df: DataFrame, xCol: Column, yCol: Column,
                  cells: Int = 1024): DataFrame = {
    require(cells >= 1, "cells must be >= 1")
    val data = df.select(xCol.cast("double").as("x"),
        yCol.cast("double").as("y"))
      .filter(col("x").isNotNull && !isnan(col("x")) &&
        col("y").isNotNull && !isnan(col("y")))
    // lazy pin: the combined fetch below materializes the pair table
    // — it feeds both rank derivations and the final join, and the
    // expensive corpus scan must run once (the llm_curate_full fork
    // lesson; this frame is pair-table-sized, so the pin is cheap)
    val pairTable = data.groupBy("x", "y")
      .agg(count(lit(1)).as("cnt")).localCheckpoint(false)
    // ONE blocking job fetches the pair count (the q85-convention
    // counter: the distinct-pair volume is q61's cost driver) AND
    // both columns' envelopes — previously two jobs (r15)
    val mmRow = pairTable.agg(count(lit(1)),
      min(col("x")), max(col("x")),
      min(col("y")), max(col("y"))).head()
    graft.ops.Counters.note("spearman", "stage",
      Map("pairs" -> mmRow.getLong(0)))
    // ONE celled midrank pass ranks BOTH columns (r15): the pair
    // table unions into an axis-tagged value frame and the grouped
    // midrankDoubled form (partitionCols = axis — the q78 machinery)
    // ranks each axis inside one groupBy + one window pass instead
    // of two. Midranks are within-axis by construction and exact
    // under ANY cell split, so the shared global envelope changes
    // nothing — bit-equal to the former two-pass form.
    val (lo, hi) =
      if (mmRow.isNullAt(1)) (0.0, 0.0)
      else (math.min(mmRow.getDouble(1), mmRow.getDouble(3)),
        math.max(mmRow.getDouble(2), mmRow.getDouble(4)))
    val axisVals = pairTable
      .select(lit(0).as("_ax"), col("x").as("_v"), col("cnt"))
      .unionByName(pairTable
        .select(lit(1).as("_ax"), col("y").as("_v"), col("cnt")))
      .groupBy("_ax", "_v").agg(sum(col("cnt")).as("_c"))
    // lazy pin: both axis filters below read one computed pass
    val ranked = midrankDoubled(axisVals, "_v", "_c", lo, hi, cells,
      Seq("_ax")).localCheckpoint(false)

    /** (value, r2) midrank table for one column off the shared pass. */
    def rankTable(ax: Int, out: String): DataFrame =
      ranked.filter(col("_ax") === ax)
        .select(col("_v"), col("r2").as(out))

    def dec(c: Column): Column = c.cast("decimal(38,0)")
    pairTable
      .join(rankTable(0, "_r2x").withColumnRenamed("_v", "x"),
        Seq("x"))
      .join(rankTable(1, "_r2y").withColumnRenamed("_v", "y"),
        Seq("y"))
      .agg(coalesce(sum(dec(col("cnt"))), lit(0L).cast("decimal(38,0)"))
          .as("n"),
        sum(dec(col("cnt")) * dec(col("_r2x"))).as("sx"),
        sum(dec(col("cnt")) * dec(col("_r2y"))).as("sy"),
        sum(dec(col("cnt")) * dec(col("_r2x")) * dec(col("_r2y")))
          .as("sxy"),
        sum(dec(col("cnt")) * dec(col("_r2x")) * dec(col("_r2x")))
          .as("sxx"),
        sum(dec(col("cnt")) * dec(col("_r2y")) * dec(col("_r2y")))
          .as("syy"))
      .select(col("n").cast("long").as("n_rows"),
        round((col("n") * col("sxy") - col("sx") * col("sy"))
            .cast("double") /
          nullif(sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
              .cast("double") *
            (col("n") * col("syy") - col("sy") * col("sy"))
              .cast("double")), lit(0.0d)),
          6).as("rho"))
  }

  /** Doubled average-tie midranks over a distinct-value frame — the
    * ONE derivation behind [[spearmanRho]] and [[mannWhitneyU]]
    * (extracted so a fix to the shared edge cases lands in both):
    * monotone cells + bounded cell offsets + per-cell prefix windows,
    * NO global window over a data-sized frame. `vals` holds one row
    * per distinct value (`valueCol`) with its total multiplicity
    * (`countCol`); every other column rides through untouched.
    * (lo, hi) is the value envelope from the caller's single bounded
    * parameter fetch (a degenerate envelope — equal, reversed, or
    * non-finite width — collapses to one cell, which is correct, just
    * unsplit). Appends `r2` = 2·midrank, always integral. */
  private def midrankDoubled(vals: DataFrame, valueCol: String,
                             countCol: String, lo: Double, hi: Double,
                             cells: Int,
                             partitionCols: Seq[String] = Nil)
      : DataFrame = {
    val cell =
      if (!(hi > lo) || !java.lang.Double.isFinite(hi - lo)) lit(0L)
      else least(lit(cells - 1L), greatest(lit(0L),
        floor((col(valueCol) - lit(lo)) /
          lit((hi - lo) / cells)).cast("long")))
    val celled = vals.withColumn("_cell", cell)
    // cell offsets: cumulative counts over the ≤`cells`-row frame (per
    // partition when `partitionCols` ride — the grouped form) —
    // bounded, the B-row-stats class, not a data-sized window
    val offKeys = partitionCols :+ "_cell"
    val offWindow =
      (if (partitionCols.isEmpty) Window.orderBy("_cell")
       else Window.partitionBy(partitionCols.map(col): _*)
         .orderBy("_cell"))
        .rowsBetween(Window.unboundedPreceding, -1)
    val offs = celled.groupBy(offKeys.map(col): _*)
      .agg(sum(col(countCol)).as("_cc"))
      .withColumn("_off",
        coalesce(sum(col("_cc")).over(offWindow), lit(0L)))
      .drop("_cc")
    val inCell = Window.partitionBy(offKeys.map(col): _*)
      .orderBy(valueCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    celled.join(offs, offKeys)
      .withColumn("r2",
        lit(2L) * (col("_off") +
          coalesce(sum(col(countCol)).over(inCell), lit(0L))) +
          col(countCol) + lit(1L))
      .drop("_cell", "_off")
  }

  /** Exact Mann–Whitney U (Wilcoxon rank-sum) between group A
    * (`isA` true) and the complement group B over `value` — the
    * distribution-free "did segment A score higher?" test an eval
    * pipeline runs when means lie (heavy tails, outliers): U counts
    * concordant cross-group pairs without enumerating them, via the
    * rank-sum identity U_A = R_A − n_A(n_A+1)/2 over pooled
    * average-tie midranks.
    *
    * Midranks ride the spearmanRho machinery: one corpus pass
    * collapses to the distinct-value table with per-group counts,
    * DOUBLED midranks (always integral) derive from [[midrankDoubled]]
    * (the spearmanRho machinery, shared) — no global window touches a
    * data-sized frame. 2·U_A = Σ(c_A·r2) − n_A(n_A+1)
    * stays integral and is reported as `u2_a` (hash-exact; NULL past
    * ~4.3e9 pooled rows where 2·n_a·n_b outgrows a long — z still
    * reports there, its intermediates stay decimal); the
    * tie-corrected normal z uses T = Σ(t³−t) with
    * 4σ² = n_A·n_B·(n³−n−T)/(3n(n−1)) — exact decimals until ONE
    * final sqrt + division, ROUND 6, op order mirrored in the
    * oracle. z is NULL when n < 2 or every pooled value ties (σ = 0).
    * NULL/NaN values and NULL group flags drop. Returns one row
    * (n_a, n_b, u2_a, tie_t, z). */
  def mannWhitneyU(df: DataFrame, value: Column, isA: Column,
                   cells: Int = 1024): DataFrame = {
    require(cells >= 1, "cells must be >= 1")
    val data = df.select(value.cast("double").as("v"),
        isA.cast("boolean").as("a"))
      .filter(col("v").isNotNull && !isnan(col("v")) &&
        col("a").isNotNull)
    mwFromValueCounts(data.groupBy("v").agg(
      count(lit(1)).as("c"),
      coalesce(sum(when(col("a"), 1L).otherwise(0L)), lit(0L))
        .as("ca")), cells)
  }

  /** Mann–Whitney of one arriving frame AGAINST prebuilt reference
    * value counts — the rank-based member of the pinned-reference
    * drift-monitor family (KS = max CDF gap, W1 = area between CDFs,
    * PSI = binned likelihood, exact quantile = location, KMV =
    * cardinality; this one answers STOCHASTIC DOMINANCE: does the
    * arriving batch score systematically above the reference corpus,
    * robust to outliers and heavy tails). The batch collapses to
    * value counts, full-outer-merges with the reference counts
    * (group A = the batch), and the pooled-midrank machinery runs
    * over the merged value table — identical closed forms to
    * [[mannWhitneyU]] over the equivalent row union (StatProperties
    * pins the equivalence). Exposed as a batch operator so the
    * monitor is oracle-checkable outside a streaming harness (the
    * ksAgainstReference convention). */
  def mwAgainstReference(batch: DataFrame, refCounts: DataFrame,
                         value: Column, cells: Int = 1024): DataFrame = {
    require(cells >= 1, "cells must be >= 1")
    val bh = batch.select(value.cast("double").as("v"))
      .filter(col("v").isNotNull && !isnan(col("v")))
      .groupBy("v").agg(count(lit(1)).as("ca"))
    val rc = refCounts.select(col("v").cast("double").as("v"),
        col("cb"))
      .filter(col("v").isNotNull && !isnan(col("v")))
    mwFromValueCounts(bh.join(rc, Seq("v"), "full_outer")
      .select(col("v"),
        (coalesce(col("ca"), lit(0L)) + coalesce(col("cb"), lit(0L)))
          .as("c"),
        coalesce(col("ca"), lit(0L)).as("ca")), cells)
  }

  /** Streaming rank-based drift monitor: every micro-batch is
    * Mann–Whitney-scored against a REFERENCE corpus's pinned value
    * counts; one (n_a, n_b, u2_a, tie_t, z, batch_id) row per batch
    * to `sink`. The sink body IS [[mwAgainstReference]], so batch and
    * stream cannot drift (the ksDriftStream convention). */
  def mwDriftStream(docs: DataFrame, reference: DataFrame,
                    value: Column)(sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val refC = referenceValueCounts(reference, value).localCheckpoint()
    Monitor.each(docs)(mwAgainstReference(_, refC, value))(sink)
  }

  /** Per-GROUP Mann–Whitney in shared scans — every group's rank
    * test from ONE corpus pass (the groupedWeightedQuantile
    * discipline: a per-group driver loop at 1000 groups would be 1000
    * jobs; here the group key simply rides every frame). Midranks are
    * per group by construction: the cell split uses one GLOBAL value
    * envelope (a single 1-row fetch — cells only bucket the value
    * axis, so a shared split keeps within-group counts exact), the
    * cell offsets cumulate per (group, cell) over a ≤cells-row frame
    * per group, and the in-cell prefix window partitions by
    * (group, cell). Identical closed forms to [[mannWhitneyU]] per
    * group (StatProperties pins the equivalence); same degenerate
    * contracts per group (z NULL when that group's n < 2 or σ = 0,
    * u2_a NULL past the long ceiling). Returns one row per group
    * (group, n_a, n_b, u2_a, tie_t, z), ordered by group. */
  def groupedMannWhitneyU(df: DataFrame, value: Column, isA: Column,
                          group: Column,
                          cells: Int = 1024): DataFrame = {
    require(cells >= 1, "cells must be >= 1")
    val data = df.select(group.as("g"), value.cast("double").as("v"),
        isA.cast("boolean").as("a"))
      .filter(col("v").isNotNull && !isnan(col("v")) &&
        col("a").isNotNull && col("g").isNotNull)
    // pinned: feeds the 1-row global envelope fetch AND the ranked
    // aggregation — the corpus scan must run once
    val vals = data.groupBy("g", "v").agg(
        count(lit(1)).as("c"),
        coalesce(sum(when(col("a"), 1L).otherwise(0L)), lit(0L))
          .as("ca"))
      // lazy pin: the envelope fetch below materializes it (r15)
      .localCheckpoint(false)
    val mmRow = vals.agg(min(col("v")), max(col("v"))).head()
    val (lo, hi) =
      if (mmRow.isNullAt(0)) (0.0, 0.0)
      else (mmRow.getDouble(0), mmRow.getDouble(1))
    mwFinish(midrankDoubled(vals, "v", "c", lo, hi, cells, Seq("g")),
      Seq("g"))
      .orderBy("group")
  }

  /** The shared tail of [[mannWhitneyU]] / [[mwAgainstReference]]:
    * the exact statistic from a (v, c, ca) distinct-value frame. */
  private def mwFromValueCounts(valsIn: DataFrame,
                                cells: Int): DataFrame = {
    // lazy pin: the 1-row envelope fetch materializes it; the ranked
    // aggregation reads the blocks — the lineage (a corpus scan or
    // the reference merge) still runs once (r15, guide §1.2)
    val vals = valsIn.localCheckpoint(false)
    val mmRow = vals.agg(min(col("v")), max(col("v"))).head()
    val (lo, hi) =
      if (mmRow.isNullAt(0)) (0.0, 0.0)
      else (mmRow.getDouble(0), mmRow.getDouble(1))
    mwFinish(midrankDoubled(vals, "v", "c", lo, hi, cells), Nil)
  }

  /** The ONE closed-form finish behind every Mann–Whitney face
    * (global, reference, grouped) — a one-sided edge-case fix here
    * cannot diverge the forms. Aggregates a (c, ca, r2) ranked frame
    * (optionally per `groupCols`, reported as `group`) into
    * (n_a, n_b, u2_a, tie_t, z). Both long reports guard their
    * decimal→long cast: u2_a can reach 2·n_a·n_b ≈ n²/2 (NULL past
    * ~4.3e9 pooled rows), and tie_t = Σ(t³−t) outgrows a long as soon
    * as ONE value carries ≥ ~2.1e6 tied rows — the heavily-tied case
    * this operator is FOR, so an unguarded cast would be an ANSI
    * crash on production shapes; z carries the statistic either way
    * (its intermediates stay decimal). */
  private def mwFinish(ranked: DataFrame,
                       groupCols: Seq[String]): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val z0 = lit(0L).cast("decimal(38,0)")
    def longOrNull(x: Column): Column =
      when(x <= lit(Long.MaxValue), x.cast("long"))
        .otherwise(lit(null).cast("long"))
    val aggs = Seq(
      coalesce(sum(dec(col("c"))), z0).as("n"),
      coalesce(sum(dec(col("ca"))), z0).as("na"),
      coalesce(sum(dec(col("ca")) * dec(col("r2"))), z0).as("ra2"),
      coalesce(sum(dec(col("c")) * dec(col("c")) * dec(col("c")) -
        dec(col("c"))), z0).as("t"))
    val agged =
      if (groupCols.isEmpty) ranked.agg(aggs.head, aggs.tail: _*)
      else ranked.groupBy(groupCols.map(col): _*)
        .agg(aggs.head, aggs.tail: _*)
    agged.select(groupCols.map(c => col(c).as("group")) ++ Seq(
      col("na").cast("long").as("n_a"),
      (col("n") - col("na")).cast("long").as("n_b"),
      longOrNull(col("ra2") - col("na") * (col("na") + lit(1L)))
        .as("u2_a"),
      longOrNull(col("t")).as("tie_t"),
      mwZ(col("n"), col("na"), col("ra2"), col("t")).as("z")): _*)
  }

  /** The tie-corrected Mann–Whitney z over aggregated exact-decimal
    * (n, na, ra2, t) columns — shared by [[mwFinish]] and
    * [[driftPanel]]'s fused finish (the ksStatExpr discipline). */
  private def mwZ(n: Column, na: Column, ra2: Column,
                  t: Column): Column =
    when(n < 2, lit(null).cast("double")).otherwise(
      round((ra2 - na * (na + lit(1L)) -
          na * (n - na)).cast("double") /
        nullif(sqrt(
          (na * (n - na)).cast("double") *
          (n * n * n - n - t).cast("double") /
          (lit(3L) * n * (n - lit(1L))).cast("double")), lit(0.0d)),
        6))

  /** Offline CUSUM changepoint localization over time buckets — the
    * drift family's WHERE: KS/PSI/W1/MW say the distribution moved,
    * this says in which bucket the mean shifted (Page 1954, the
    * cumulative-sum form). For bucket k,
    * D_k = T·Σ_{i≤k}s_i − S·Σ_{i≤k}c_i — the T-scaled cumulative
    * deviation from the global mean (s = per-bucket value sum in
    * caller-quantized micro units, c = per-bucket count, S/T the
    * global totals) — and the changepoint estimate is the bucket
    * maximizing |D_k| (the last bucket BEFORE the shift). Exact
    * decimal integers end to end; D reports as ROUND(double, 6)
    * (values < 2^53 at any bucketed scale that fits a report).
    *
    * Shape: one partial+final aggregation to the bucket table, then
    * every window runs over that ≤B-row frame (hours of telemetry —
    * the q70/d20 post-agg class, bounded regardless of corpus size),
    * and the argmax is a B-row TakeOrdered with a deterministic
    * (|D| desc, bucket asc) tie-break. The last bucket always has
    * D = 0 (telescoping), so a constant series reports the smallest
    * bucket with cusum 0. Returns one row
    * (cp_bucket, n_buckets, cusum). */
  def cusumChangepoint(df: DataFrame, valueMicro: Column,
                       bucket: Column): DataFrame =
    cusumFromBuckets(cusumBuckets(df, valueMicro, bucket))

  /** The bucket collapse of [[cusumChangepoint]]: one partial+final
    * aggregation to (bucket, c, s). */
  private def cusumBuckets(df: DataFrame, valueMicro: Column,
                           bucket: Column): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val z0 = lit(0L).cast("decimal(38,0)")
    df.select(bucket.cast("long").as("bucket"),
        valueMicro.cast("long").as("v"))
      .filter(col("bucket").isNotNull && col("v").isNotNull)
      .groupBy("bucket").agg(count(lit(1)).as("c"),
        coalesce(sum(dec(col("v"))), z0).as("s"))
  }

  /** The argmax tail of [[cusumChangepoint]] over a (bucket, c, s)
    * frame — shared with the streaming fold, whose standing state IS
    * such a frame. */
  private def cusumFromBuckets(b: DataFrame): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val w = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    b.select(col("bucket"),
        sum(dec(col("c"))).over(w).as("cc"),
        sum(col("s")).over(w).as("cs"),
        sum(dec(col("c"))).over(wAll).as("tc"),
        sum(col("s")).over(wAll).as("ts_"),
        count(lit(1)).over(wAll).as("nb"))
      .select(col("bucket"), col("nb"),
        (col("tc") * col("cs") - col("ts_") * col("cc")).as("d"))
      .orderBy(abs(col("d")).desc, col("bucket").asc).limit(1)
      // NO round(…, 6) here: d is already integral, and ROUND-6 on a
      // large-magnitude double DIVERGES between engines (DuckDB's
      // x·1e6/1e6 detour loses ulps past ~2^53/1e6 where a plain
      // nearest-double cast agrees exactly)
      .select(col("bucket").as("cp_bucket"),
        col("nb").as("n_buckets"),
        col("d").cast("double").as("cusum"))
  }

  /** The standing state of the streaming series monitors: per time
    * bucket, (count, exact integral micro-sum). */
  type BucketSums = Map[Long, (Long, BigDecimal)]

  /** One micro-batch of the streaming CUSUM changepoint monitor (the
    * kmvBatchUpdate convention): collapse the batch to its ≤B-row
    * bucket counts, MERGE them into the standing per-bucket (count,
    * micro-sum) state — bounded driver-side state, one entry per time
    * bucket, never data; the merge is associative and commutative so
    * batching order cannot change it — and re-run the shared argmax
    * tail over the standing buckets. The report is therefore
    * bit-identical to a one-shot [[cusumChangepoint]] over the rows
    * so far (StatProperties pins it on random splits). Returns the
    * report with the merged state. */
  def cusumBatchUpdate(batch: DataFrame, valueMicro: Column,
                       bucket: Column, state: BucketSums,
                       maxBuckets: Int = 8192): (DataFrame, BucketSums) = {
    val merged = cusumFold(batch, valueMicro, bucket, state, maxBuckets)
    (cusumFromBuckets(bucketSumsFrame(batch, merged)), merged)
  }

  /** The shared fold of the streaming series monitors (CUSUM, binseg,
    * EWMA): collapse the batch and merge it into the standing
    * per-bucket state, guarded by maxBuckets — the house bounded-fetch
    * rule: a per-second or per-event bucket expression must fail
    * loudly, not grow driver state silently. */
  private def cusumFold(batch: DataFrame, valueMicro: Column,
                        bucket: Column, state: BucketSums,
                        maxBuckets: Int): BucketSums = {
    val upd = cusumBuckets(batch, valueMicro, bucket).collect()
      .map(r => (r.getLong(0),
        (r.getLong(1), BigDecimal(r.getDecimal(2)))))
    val merged = upd.foldLeft(state) { case (m, (b, (c, s))) =>
      val (c0, s0) = m.getOrElse(b, (0L, BigDecimal(0)))
      m.updated(b, (c0 + c, s0 + s))
    }
    require(merged.size <= maxBuckets,
      s"CUSUM monitor state has ${merged.size} buckets > " +
        s"maxBuckets=$maxBuckets: the bucket expression is too " +
        "fine-grained for driver-side state; coarsen it or raise " +
        "maxBuckets deliberately")
    merged
  }

  /** The folded state as a (bucket, c, s) FRAME for whichever argmax
    * tail the caller runs — a local relation of ≤maxBuckets rows.
    *
    * The exact integral sums round-trip as STRINGS, not BigDecimal:
    * the default encoder pins scala BigDecimal to decimal(38,18),
    * silently capping integral headroom at ~1e20 where the batch path
    * has the full decimal(38,0) range — an overflowing bucket would
    * diverge from the one-shot the fold claims bit-equality with
    * (round-10 advice). toString of an integral BigDecimal is exact,
    * and the cast restores decimal(38,0). */
  private def bucketSumsFrame(batch: DataFrame,
                              merged: BucketSums): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    merged.toSeq
      .map { case (b, (c, s)) => (b, c, s.toBigInt.toString) }
      .toDF("bucket", "c", "_s")
      .select(col("bucket"), col("c"),
        col("_s").cast("decimal(38,0)").as("s"))
  }

  /** One micro-batch of the streaming BINSEG monitor: the SAME fold
    * as [[cusumBatchUpdate]] (one shared implementation — batch and
    * stream cannot drift), but the report is the full multi-shift
    * [[cusumBinseg]] localization over the stream so far, bit-equal
    * to the one-shot on the same rows. The state frame is a local
    * relation (≤maxBuckets rows), so the three argmax consumers need
    * no checkpoint. */
  def cusumBinsegUpdate(batch: DataFrame, valueMicro: Column,
                        bucket: Column, state: BucketSums,
                        maxBuckets: Int = 8192)
      : (DataFrame, BucketSums) = {
    val merged = cusumFold(batch, valueMicro, bucket, state, maxBuckets)
    (cusumBinsegFromBuckets(bucketSumsFrame(batch, merged)), merged)
  }

  /** Binary-segmentation changepoint localization (Scott & Knott's
    * recursion, one level deep) — the MULTI-shift extension of
    * [[cusumChangepoint]]: q80 localizes ONE mean shift; this re-runs
    * the same CUSUM argmax on the two sides of the root changepoint,
    * so a series with two planted steps reports both (the root picks
    * the dominant shift, the child segments pick the other). Depth is
    * fixed at one recursion level — the d44/d55 unrolled-replay
    * discipline: each level is a chained CTE in the oracle, and at
    * fixed depth the whole recursion stays ONE declarative plan.
    *
    * Cost: the corpus collapses to the (bucket, count, sum) frame
    * ONCE (localCheckpointed — three argmax consumers must not
    * re-aggregate the corpus); every subsequent window runs over that
    * ≤B-row frame. The root cp bucket is a 1-row bounded parameter
    * fetch (the house convention). Segments inherit q80's semantics:
    * a constant child segment reports its smallest bucket with cusum
    * 0; an EMPTY right segment (root cp at the last bucket) emits no
    * row. Returns up to 3 rows
    * (level, segment, cp_bucket, n_buckets, cusum). */
  def cusumBinseg(df: DataFrame, valueMicro: Column,
                  bucket: Column): DataFrame =
    cusumBinsegFromBuckets(
      // lazy pin: the root argmax fetch materializes it (r15)
      cusumBuckets(df, valueMicro, bucket).localCheckpoint(false))

  /** The argmax recursion of [[cusumBinseg]] over a (bucket, c, s)
    * frame — shared with the streaming fold, whose standing state IS
    * such a frame (the cusumFromBuckets twin, one level deeper). */
  private def cusumBinsegFromBuckets(b: DataFrame): DataFrame = {
    val root = cusumFromBuckets(b)
    // 1-row bounded parameter fetch; an all-NULL input has no buckets
    // and therefore no root — every segment is empty too
    val r0 = root.collect()
    val cp0 = if (r0.isEmpty) Long.MinValue else r0.head.getLong(0)
    def tag(dfr: DataFrame, level: Int, seg: String): DataFrame =
      dfr.select(lit(level.toLong).as("level"),
        lit(seg).as("segment"), col("cp_bucket"), col("n_buckets"),
        col("cusum"))
    tag(root, 1, "root")
      .unionAll(tag(cusumFromBuckets(b.filter(col("bucket") <= cp0)),
        2, "left"))
      .unionAll(tag(cusumFromBuckets(b.filter(col("bucket") > cp0)),
        2, "right"))
      .orderBy("level", "segment")
  }

  /** The per-bucket MEAN-micro series both time-series tests read —
    * one rounded exact-integer division per bucket (the d28
    * quantization), checkpointed because every consumer windows it
    * more than once. One construction so the trend (q84) and
    * randomness (q86) tests cannot drift onto different series
    * (round-11 review). Returns (x, m). */
  private def bucketMeansMicro(df: DataFrame, valueMicro: Column,
                               bucket: Column): DataFrame =
    meansFromBuckets(cusumBuckets(df, valueMicro, bucket))

  /** The (bucket, c, s) → (x, m) rounded-mean projection — shared by
    * the corpus path and the streaming-fold path (whose standing
    * state IS such a frame), so batch and stream read ONE series
    * definition. */
  private def meansFromBuckets(b: DataFrame): DataFrame =
    b.select(col("bucket").as("x"),
        round(col("s").cast("double") / col("c")).cast("long")
          .as("m"))
      // lazy pin: the first consumer's fetch materializes it (r15)
      .localCheckpoint(false)

  /** Wald–Wolfowitz runs test over the time-bucket mean series — the
    * RANDOMNESS companion of the trend pair: Mann–Kendall (q84) asks
    * "is there a monotone trend", this asks "do the values oscillate
    * like noise around their level, or do they clump" (too FEW runs =
    * regime persistence/drift, too MANY = alternation; both reject).
    * Signs are taken against the MEDIAN of the bucket means (exact
    * selection, the q47 convention — the textbook median-split form),
    * buckets equal to the median drop (the standard treatment).
    *
    * R = 1 + #sign changes along the bucket order; with n1 pluses
    * and n2 minuses, z = (R − μ)/σ, μ = 2n1n2/(n1+n2) + 1,
    * σ² = 2n1n2(2n1n2−n1−n2)/((n1+n2)²(n1+n2−1)) — counts are exact
    * integers, z is the one mirrored double expression, ROUND 6, NULL
    * when either side is empty or σ degenerates. All windows ride the
    * ≤B-row post-agg bucket frame (the q80 class); the median is a
    * 1-row bounded parameter fetch. Returns one row
    * (n_buckets, n_pos, n_neg, n_runs, z). */
  def runsTest(df: DataFrame, valueMicro: Column,
               bucket: Column): DataFrame =
    runsFromMeans(bucketMeansMicro(df, valueMicro, bucket))

  /** The [[runsTest]] body over an already-built (x, m) series —
    * shared with [[seriesPanel]]. */
  private def runsFromMeans(mm: DataFrame): DataFrame = {
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val medRow = mm
      .withColumn("rn", row_number().over(Window.orderBy("m", "x")))
      .withColumn("nb", count(lit(1)).over(wAll))
      .filter(col("rn") === expr("(nb + 1) div 2"))
      .select(col("m"), col("nb")).collect()
    if (medRow.isEmpty) {
      // no buckets: empty report (mirrors the oracle's empty join)
      return mm.select(lit(0L).as("n_buckets"), lit(0L).as("n_pos"),
        lit(0L).as("n_neg"), lit(0L).as("n_runs"),
        lit(null).cast("double").as("z")).limit(0)
    }
    val med = medRow.head.getLong(0)
    val nb = medRow.head.getLong(1)
    // the bucket-frame bound, asserted off the count the median fetch
    // already carried (r15, free): the global runs window must never
    // see an unbounded frame
    require(nb <= MaxWindowValues,
      s"runsTest over $nb buckets > $MaxWindowValues — coarsen the " +
        "bucket expression (the bounded-window contract)")
    val w = Window.orderBy("x")
    val fl = mm.filter(col("m") =!= med)
      .select(col("x"),
        when(col("m") > med, 1L).otherwise(-1L).as("sgn"))
      .withColumn("nw", when(lag(col("sgn"), 1).over(w).isNull ||
        lag(col("sgn"), 1).over(w) =!= col("sgn"), 1L)
        .otherwise(0L))
    val n1c = sum(when(col("sgn") === 1L, 1L).otherwise(0L))
    val n2c = sum(when(col("sgn") === -1L, 1L).otherwise(0L))
    fl.agg(coalesce(n1c, lit(0L)).as("n_pos"),
        coalesce(n2c, lit(0L)).as("n_neg"),
        coalesce(sum(col("nw")), lit(0L)).as("n_runs"))
      .select(lit(nb).as("n_buckets"), col("n_pos"), col("n_neg"),
        col("n_runs"),
        when(col("n_pos") > 0 && col("n_neg") > 0 &&
          lit(2.0) * col("n_pos") * col("n_neg") *
            (lit(2L) * col("n_pos") * col("n_neg") - col("n_pos") -
              col("n_neg")) > 0,
          round((col("n_runs").cast("double") -
            (lit(2.0) * col("n_pos") * col("n_neg") /
              (col("n_pos") + col("n_neg")) + lit(1.0))) /
            sqrt(lit(2.0) * col("n_pos") * col("n_neg") *
              (lit(2L) * col("n_pos") * col("n_neg") - col("n_pos") -
                col("n_neg")) /
              ((col("n_pos") + col("n_neg")).cast("double") *
                (col("n_pos") + col("n_neg")) *
                (col("n_pos") + col("n_neg") - lit(1L)))), 6))
          .as("z"))
  }

  /** Kruskal–Wallis H across the groups of `group` — the RANK-based
    * twin of [[anovaF]], exactly as Mann–Whitney is to Welch: does
    * ANY group's distribution sit higher, robust to the heavy tails
    * and outliers that move means. Pooled average-tie midranks ride
    * the shared [[midrankDoubled]] machinery (no global window over a
    * data-sized frame); per-class doubled rank sums R2 are exact
    * integer aggregates; each class term R2²/(4n_cl) quantizes to an
    * integer MICRO before the cross-class sum (the q87 order-freedom
    * discipline — R2² stays exact in decimal, the one division per
    * class is deterministic), and the tie-corrected
    * H = [12·Σterm/1e6/(n(n+1)) − 3(n+1)] / (1 − T/(n³−n)) is a
    * mirrored double expression, ROUND 6 — NULL when k < 2, n < 2,
    * or every pooled value ties (the correction hits 0). Returns one
    * row (k_groups, n, tie_t, h_stat). */
  def kruskalWallisH(df: DataFrame, value: Column, group: Column,
                     cells: Int = 1024): DataFrame = {
    require(cells >= 1, "cells must be >= 1")
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val z0 = lit(0L).cast("decimal(38,0)")
    val data = df.select(group.cast("string").as("cl"),
        value.cast("double").as("v"))
      .filter(col("v").isNotNull && !isnan(col("v")) &&
        col("cl").isNotNull)
    // lazy pins: the envelope fetch below materializes BOTH (vals'
    // lineage runs through cv) — feeds the pooled value table AND
    // the per-class join without separate materialization jobs (r15)
    val cv = data.groupBy("cl", "v").agg(count(lit(1)).as("cvc"))
      .localCheckpoint(false)
    val vals = cv.groupBy("v").agg(sum(col("cvc")).as("c"))
      .localCheckpoint(false)
    val mmRow = vals.agg(min(col("v")), max(col("v"))).head()
    val (lo, hi) =
      if (mmRow.isNullAt(0)) (0.0, 0.0)
      else (mmRow.getDouble(0), mmRow.getDouble(1))
    val ranked = midrankDoubled(vals, "v", "c", lo, hi, cells)
    val perClass = cv
      .join(ranked.select(col("v"), col("r2")), "v")
      .groupBy("cl").agg(sum(col("cvc")).as("ncl"),
        coalesce(sum(dec(col("cvc")) * dec(col("r2"))), z0)
          .as("r2sum"))
      .withColumn("term",
        round(lit(1e6) *
          (col("r2sum") * col("r2sum")).cast("double") /
          (lit(4L) * col("ncl"))).cast("decimal(38,0)"))
    val ca = perClass.agg(count(lit(1)).as("k"),
      sum(col("ncl")).as("n"),
      coalesce(sum(col("term")), z0).as("sumterm"))
    val va = vals.agg(
      coalesce(sum(dec(col("c")) * dec(col("c")) * dec(col("c")) -
        dec(col("c"))), z0).as("tt"),
      sum(col("c")).as("n2"))
    val corr = lit(1.0) - col("tt").cast("double") /
      (col("n").cast("double") * col("n") * col("n") - col("n"))
    val h0 = lit(12.0) * col("sumterm").cast("double") / lit(1e6) /
      (col("n").cast("double") * (col("n") + lit(1L))) -
      lit(3.0) * (col("n") + lit(1L))
    // the two 1-row audits meet on the attribute-dependent key
    // n == n2 (both counted the pooled rows — the d64 convention;
    // a constant key would plan the banned BNLJ)
    ca.join(broadcast(va), col("n") === col("n2"))
      .select(col("k").as("k_groups"), col("n"),
        col("tt").cast("long").as("tie_t"),
        when(col("k") >= 2L && col("n") >= 2L && corr > 0,
          round(h0 / corr, 6)).as("h_stat"))
  }

  /** One-way ANOVA F over `value` across the groups of `group` — the
    * MANY-group completion of the comparison family: q75/q79 ask "do
    * these TWO means differ", this asks "does ANY of the k group
    * means differ" in one statistic (Fisher's F = between-group over
    * within-group mean square). One corpus scan to per-group exact
    * co-moments (count, Σv, Σv² in decimal — map-side combine), then
    * everything rides the ≤k-row group frame.
    *
    * Cross-group exactness: SSB and SSW are sums of per-group
    * RATIONALS (S_g²/n_g), which a float accumulation would make
    * order-dependent — so each group's n_g·m_g² quantizes to an
    * integer MICRO term (one division, one round — the d28
    * discipline) BEFORE the cross-group sum, and Σv² scales to micro
    * exactly in decimal. F is then two integer-ratio divisions in the
    * mirrored order, ROUND 6; NULL when k < 2, n ≤ k, or the
    * within-group mass is 0 (all groups constant). Returns one row
    * (k_groups, n, df1, df2, f_stat). */
  def anovaF(df: DataFrame, value: Column, group: Column): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val z0 = lit(0L).cast("decimal(38,0)")
    val per = df.select(group.cast("string").as("g"),
        value.cast("long").as("v"))
      .filter(col("g").isNotNull && col("v").isNotNull)
      .groupBy("g").agg(count(lit(1)).as("ng"),
        coalesce(sum(dec(col("v"))), z0).as("sg"),
        coalesce(sum(dec(col("v")) * dec(col("v"))), z0).as("qg"))
    val withTerm = per.withColumn("term",
      round(lit(1e6) * (col("sg").cast("double") / col("ng")) *
        (col("sg").cast("double") / col("ng")) * col("ng"))
        .cast("decimal(38,0)"))
    val gterm = round(lit(1e6) *
      (col("s").cast("double") / col("n")) *
      (col("s").cast("double") / col("n")) * col("n"))
      .cast("decimal(38,0)")
    val ssb = (col("sumterm") - gterm).cast("double")
    val ssw = (col("ssq") * lit(1000000L) - col("sumterm"))
    withTerm.agg(
        count(lit(1)).as("k"),
        sum(col("ng")).as("n"),
        coalesce(sum(col("qg")), z0).as("ssq"),
        coalesce(sum(col("sg")), z0).as("s"),
        coalesce(sum(col("term")), z0).as("sumterm"))
      .select(col("k").as("k_groups"), col("n"),
        (col("k") - 1L).as("df1"), (col("n") - col("k")).as("df2"),
        when(col("k") >= 2L && col("n") > col("k") && ssw > 0,
          round((ssb / (col("k") - 1L)) /
            (ssw.cast("double") / (col("n") - col("k"))), 6))
          .as("f_stat"))
  }

  /** Paired bootstrap significance test (Koehn, EMNLP 2004 — the
    * standard NLP system-comparison test) over per-item metric
    * DELTAS: given one row per item with an integer-micro delta
    * (metric_A − metric_B on the SAME item), Poisson-bootstrap the
    * mean delta `replicates` times (the d32 single-pass machinery:
    * Binomial(n, 1/n) → Poisson(1), deterministic portable-hash
    * draws against [[Curation.PoissonCdfMicro]]) and report how many
    * replicate means favor A plus the central 95% interval of the
    * replicate means — the "is the improvement real or resampling
    * noise" report next to McNemar's exact paired counts (q74 tests
    * paired LABELS; this tests paired continuous METRICS).
    *
    * Exactness: deltas are integers, replicate weights are integers,
    * each replicate mean is ONE division of two exact integers
    * rounded to micro, and the interval bounds are exact order
    * statistics of the bounded replicate frame (k_lo = ⌈R/40⌉ via
    * (R·25+999) div 1000, k_hi mirrored — the q47 selection
    * convention, ties broken by replicate id). Returns one row
    * (n_items, mean_delta_micro, n_rep, n_pos_rep, lo_micro,
    * hi_micro); empty when there are no items. */
  def pairedBootstrap(df: DataFrame, id: Column, deltaMicro: Column,
                      replicates: Int = 64): DataFrame = {
    require(replicates >= 4 && replicates <= 1024,
      "replicates in [4, 1024] (a bounded replicate frame)")
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    // `base` forks: the replicate branch AND the n_items/mean
    // aggregate both consume it, and the caller's lineage above it
    // can be arbitrarily expensive (q85 feeds two full LM scorings in
    // here) — pin the skinny (id, delta) frame so the upstream runs
    // ONCE (the llm_curate_full fork-point rule, round-11 review).
    val base = df.select(id.cast("string").as("_id"),
      deltaMicro.cast("long").as("_d")).localCheckpoint(false)
    // one shared draw with the d32 bootstrap (Curation.poissonWeighted
    // — hash-key shape and CDF table live in exactly one place)
    val repMeans = Curation.poissonWeighted(base, col("_id"),
        col("_d"), replicates)
      .groupBy("replicate").agg(
        sum(col("_w")).as("ne"),
        coalesce(sum(dec(col("_w")) * dec(col("_v"))),
          lit(0L).cast("decimal(38,0)")).as("sd"))
      .filter(col("ne") > 0)
      .select(col("replicate"),
        round(col("sd").cast("double") / col("ne").cast("double"))
          .cast("long").as("rm"))
      // lazy pins (r15): the counter counts below materialize both
      // frames — the replicate job computes base's lineage en route,
      // so the two separate materialization jobs fold away
      .localCheckpoint(false)
    // driver-loop counters (Counters.note — the louvain/cc
    // convention; r13 verdict task 3): q85's +39% r13 drift was the
    // one heavy entry unprovable from the artifact alone. Both
    // frames are already checkpointed, so the two counts are cheap
    // re-reads of pinned partitions, and the numbers that adjudicate
    // a drift (scored items flat but time up → the plan or the box,
    // not the data) ride in BENCH's counters object.
    val nReplicates = repMeans.count()
    graft.ops.Counters.note("paired_bootstrap", "stage", Map(
      "items" -> base.count(), "replicates" -> nReplicates))
    // the replicate-frame bound, asserted off the count the counter
    // already fetched (r15, free): the global rank window below must
    // never see an unbounded frame
    require(nReplicates <= MaxWindowValues,
      s"pairedBootstrap over $nReplicates replicates > " +
        s"$MaxWindowValues — lower B (the bounded-window contract)")
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val ranked = repMeans
      .withColumn("rn",
        row_number().over(Window.orderBy("rm", "replicate")))
      .withColumn("nr", count(lit(1)).over(wAll))
    val lo = ranked.filter(col("rn") === expr("(nr * 25 + 999) div 1000"))
      .select(col("rm").as("lo_micro"))
    val hi = ranked.filter(
        col("rn") === expr("nr + 1 - ((nr * 25 + 999) div 1000)"))
      .select(col("rm").as("hi_micro"))
    val reps = repMeans.agg(count(lit(1)).as("n_rep"),
      coalesce(sum(when(col("rm") > 0, 1L).otherwise(0L)), lit(0L))
        .as("n_pos_rep"))
    val ba = base.agg(count(lit(1)).as("n_items"),
      round(coalesce(sum(dec(col("_d"))), lit(0L).cast("decimal(38,0)"))
        .cast("double") / count(lit(1)).cast("double"))
        .cast("long").as("mean_delta_micro"))
      .filter(col("n_items") > 0)
    ba.withColumn("_one",
        pmod(col("n_items"), lit(1L)).cast("int"))
      .join(broadcast(reps.withColumn("_one",
        pmod(col("n_rep"), lit(1L)).cast("int"))), "_one")
      .join(broadcast(lo.withColumn("_one",
        pmod(col("lo_micro"), lit(1L)).cast("int"))), "_one")
      .join(broadcast(hi.withColumn("_one",
        pmod(col("hi_micro"), lit(1L)).cast("int"))), "_one")
      .select(col("n_items"), col("mean_delta_micro"), col("n_rep"),
        col("n_pos_rep"), col("lo_micro"), col("hi_micro"))
  }

  /** Mann–Kendall trend test + Theil–Sen slope over time buckets —
    * the ROBUST trend pair for drift monitoring (Mann 1945 / Kendall
    * 1975; Theil 1950 / Sen 1968): q37's least-squares line answers
    * "what trend fits best", this answers "is there a monotone trend
    * at all" (S = Σ_{i<j} sign(m_j − m_i), outlier-immune) and "what
    * is its robust rate" (the median of all pairwise slopes — one
    * wild bucket moves an LSQ slope arbitrarily, it moves a median of
    * B(B−1)/2 slopes not at all).
    *
    * Series construction: the corpus collapses to per-bucket MEAN
    * micro values (round of one exact-integer division per bucket —
    * the d28 quantization); S, the tie table, and the variance
    * numerator are then pure integers, each pairwise slope is ONE
    * division of two integers rounded to a long, and the median is an
    * exact selection by value (the q47 convention, k = ⌈n/2⌉ via
    * (n+1) div 2). z carries the standard continuity correction
    * ((S∓1)/√(var18/18)), ROUND 6; all-tied or single-bucket series
    * → var18 = 0 → z NULL.
    *
    * Shape at scale: the pair frame is the POST-AGG bucket frame
    * squared — `require`d under maxBuckets (hours for years fit;
    * a per-event bucket expression fails loudly, the cusum rule) —
    * and enumerates through the kendallTauBMicro single-bucket
    * broadcast-hash trick, never a BroadcastNestedLoopJoin. Returns
    * one row (n_buckets, s_stat, var18, z, ts_slope_micro); empty
    * with fewer than two buckets. */
  def mannKendallTheilSen(df: DataFrame, valueMicro: Column,
                          bucket: Column,
                          maxBuckets: Int = 4096): DataFrame =
    mkFromMeans(bucketMeansMicro(df, valueMicro, bucket), maxBuckets)

  /** The [[mannKendallTheilSen]] body over an already-built (x, m)
    * series — shared with [[seriesPanel]]. */
  private def mkFromMeans(mm: DataFrame,
                          maxBuckets: Int): DataFrame = {
    val nB = mm.count()
    require(nB <= maxBuckets,
      s"trend test over $nB buckets > maxBuckets=$maxBuckets: the " +
        "pair frame is quadratic in buckets; coarsen the bucket " +
        "expression or raise maxBuckets deliberately")
    val p1 = mm.select(col("x").as("_xi"), col("m").as("_mi"),
      pmod(col("x"), lit(1L)).cast("int").as("_one"))
    val p2 = mm.select(col("x").as("_xj"), col("m").as("_mj"),
      pmod(col("x"), lit(1L)).cast("int").as("_one"))
    val pairs = p1.join(broadcast(p2), "_one")
      .filter(col("_xi") < col("_xj"))
      .select(
        when(col("_mj") > col("_mi"), 1L)
          .when(col("_mj") < col("_mi"), -1L).otherwise(0L).as("sgn"),
        round((col("_mj") - col("_mi")).cast("double") /
          (col("_xj") - col("_xi")).cast("double")).cast("long")
          .as("slope"))
      // lazy pin: the s_stat aggregation materializes it (r15)
      .localCheckpoint(false)
    val sAgg = pairs.agg(
      coalesce(sum(col("sgn")), lit(0L)).as("s_stat"),
      count(lit(1)).as("n_pairs"))
    val ties = mm.groupBy("m").agg(count(lit(1)).as("t"))
      .agg(coalesce(sum(col("t") * (col("t") - 1L) *
        (lit(2L) * col("t") + lit(5L))), lit(0L)).as("tt"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val med = pairs
      .withColumn("rn", row_number().over(Window.orderBy("slope")))
      .withColumn("np", count(lit(1)).over(wAll))
      .filter(col("rn") === expr("(np + 1) div 2"))
      .select(col("slope").as("slope_med"))
    val var18 = lit(nB * (nB - 1) * (2 * nB + 5)) - col("tt")
    sAgg.withColumn("_one",
        pmod(col("s_stat") + col("n_pairs"), lit(1L)).cast("int"))
      .join(broadcast(ties.withColumn("_one",
        pmod(col("tt"), lit(1L)).cast("int"))), "_one")
      .join(broadcast(med.withColumn("_one",
        pmod(col("slope_med"), lit(1L)).cast("int"))), "_one")
      .select(lit(nB).as("n_buckets"), col("s_stat"),
        var18.as("var18"),
        when(var18 > 0,
          when(col("s_stat") > 0,
            round((col("s_stat") - 1L).cast("double") /
              sqrt(var18.cast("double") / lit(18.0)), 6))
          .when(col("s_stat") < 0,
            round((col("s_stat") + 1L).cast("double") /
              sqrt(var18.cast("double") / lit(18.0)), 6))
          .otherwise(lit(0.0d))).as("z"),
        col("slope_med").as("ts_slope_micro"))
  }

  /** Welch's unequal-variance t-test between group A (`isA` true) and
    * the complement group B over `value` — the parametric companion
    * of [[mannWhitneyU]] (same split, means instead of ranks), with
    * the Welch–Satterthwaite degrees of freedom. CONTRACT: `value`
    * must be exactly summable (an integer quantization — cents,
    * micro-units; the d28 discipline), because the six co-moments
    * accumulate in decimal(38,0) and order-independence is what makes
    * the result hash-exact. The statistic is scale-invariant, so
    * quantization never changes t or df.
    *
    * From the exact sums, three IEEE doubles each defined by ONE
    * division of two exact integers (bit-identical in any engine):
    * A = s²_a/n_a = (n_a·Σx²−(Σx)²)/(n_a²(n_a−1)), B likewise,
    * D = x̄−ȳ = (Σx·n_b−Σy·n_a)/(n_a·n_b). Then
    * t = D/√(A+B) and df = (A+B)²/(A²/(n_a−1)+B²/(n_b−1)) with the
    * op order mirrored verbatim in the oracle, ROUND 6. t and df are
    * NULL when either side has n < 2 or both variances are zero.
    * NULL values/flags drop. Returns one row (n_a, n_b, t_stat,
    * df_ws). */
  def welchT(df: DataFrame, value: Column, isA: Column): DataFrame = {
    val v = value.cast("decimal(38,0)")
    val a = isA.cast("boolean")
    val aggs = welchAggExprs(v, a)
    welchFinish(df.filter(v.isNotNull && a.isNotNull)
      .agg(aggs.head, aggs.tail: _*), Seq.empty)
  }

  /** Per-GROUP Welch in a shared scan — the parametric twin of
    * [[groupedMannWhitneyU]] under the same grouped-selection
    * discipline: the six exact co-moments ride one groupBy, the
    * per-group t/df land in the same guarded single-division finish
    * [[welchT]] uses (StatProperties pins per-group equality). The
    * [[welchT]] quantization contract applies per row: `value` must
    * be exactly summable. Returns one row per group
    * (group, n_a, n_b, t_stat, df_ws), ordered by group. */
  def groupedWelchT(df: DataFrame, value: Column, isA: Column,
                    group: Column): DataFrame = {
    val v = value.cast("decimal(38,0)")
    val a = isA.cast("boolean")
    val aggs = welchAggExprs(col("_wv"), col("_wa"))
    welchFinish(
      df.select(group.as("g"), v.as("_wv"), a.as("_wa"))
        .filter(col("_wv").isNotNull && col("_wa").isNotNull &&
          col("g").isNotNull)
        .groupBy("g")
        .agg(aggs.head, aggs.tail: _*),
      Seq(col("g").as("group")))
      .orderBy("group")
  }

  private def welchAggExprs(v: Column, a: Column): Seq[Column] = {
    val z0 = lit(0L).cast("decimal(38,0)")
    Seq(
      coalesce(sum(when(a, 1L).otherwise(0L)), lit(0L)).as("na"),
      coalesce(sum(when(!a, 1L).otherwise(0L)), lit(0L)).as("nb"),
      coalesce(sum(when(a, v).otherwise(z0)), z0).as("sx"),
      coalesce(sum(when(!a, v).otherwise(z0)), z0).as("sy"),
      coalesce(sum(when(a, v * v).otherwise(z0)), z0).as("sxx"),
      coalesce(sum(when(!a, v * v).otherwise(z0)), z0).as("syy"))
  }

  /** The shared finish of [[welchT]] / [[groupedWelchT]]: the guarded
    * single-division t/df over a (na, nb, sx, sy, sxx, syy) frame,
    * with `lead` columns (the group key) carried through. */
  private def welchFinish(g: DataFrame, lead: Seq[Column]): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val va = (dec(col("na")) * col("sxx") - col("sx") * col("sx"))
      .cast("double") /
      (dec(col("na")) * dec(col("na")) * (dec(col("na")) - lit(1L)))
        .cast("double")
    val vb = (dec(col("nb")) * col("syy") - col("sy") * col("sy"))
      .cast("double") /
      (dec(col("nb")) * dec(col("nb")) * (dec(col("nb")) - lit(1L)))
        .cast("double")
    val d = (col("sx") * dec(col("nb")) - col("sy") * dec(col("na")))
      .cast("double") /
      (dec(col("na")) * dec(col("nb"))).cast("double")
    // va/vb/d stay INSIDE the guarded branches: under ANSI mode their
    // divisions must not evaluate when n < 2 zeroes a denominator
    // (when/otherwise generates lazy branches; a materialized column
    // would evaluate unconditionally and throw DIVIDE_BY_ZERO)
    g.select(lead ++ Seq(col("na").as("n_a"), col("nb").as("n_b"),
      when(col("na") < 2 || col("nb") < 2, lit(null).cast("double"))
        .otherwise(round(d /
          nullif(sqrt(va + vb), lit(0.0d)), 6)).as("t_stat"),
      when(col("na") < 2 || col("nb") < 2, lit(null).cast("double"))
        .otherwise(round(
          (va + vb) * (va + vb) /
            nullif(va * va / (dec(col("na")) - lit(1L)).cast("double") +
              vb * vb / (dec(col("nb")) - lit(1L)).cast("double"),
              lit(0.0d)),
          6)).as("df_ws")): _*)
  }

  /** Two-sample Anderson–Darling (Scholz & Stephens 1987, the
    * tie-adjusted midrank A²akN for k = 2) — the TAIL-WEIGHTED member
    * completing the two-sample family: KS (q45) takes the sup of the
    * CDF gap, W1 (q64) integrates it, MW (q73) ranks it; AD weights
    * the gap by 1/(F(1−F)), so divergence in the DISTRIBUTION TAILS —
    * exactly where corpus quality regressions hide — dominates the
    * statistic.
    *
    * Exactness: the corpus collapses to its distinct-value frame
    * (the rocAuc cardinality contract); DOUBLED midpoint cumulatives
    * 2B̄ⱼ = 2·before + lⱼ and 2M̄ᵢⱼ = 2·beforeᵢ + lᵢⱼ keep every
    * quantity integral (the mannWhitneyU trick), and each (side,
    * value) term (N−1)·lⱼ·(N·2M̄ − nᵢ·2B̄)² / (N²·nᵢ·(2B̄(2N−2B̄) −
    * N·lⱼ)) is ONE mirrored division of two exact decimals,
    * micro-quantized BEFORE the cross-value sum. The denominator is
    * provably positive whenever ≥2 distinct values exist
    * (2B̄(2N−2B̄) − Nl ≥ l(N−l) > 0), so the only NULL cases are an
    * empty side or an everything-tied corpus. N/n_a/L are a 1-row
    * bounded parameter fetch. Returns one row
    * (n_a, n_b, n_values, ad_micro). */
  def andersonDarling2(df: DataFrame, value: Column,
                       isA: Column): DataFrame =
    adFromCounts(df.select(value.cast("double").as("v"),
        isA.cast("boolean").as("a"))
      .filter(col("v").isNotNull && !isnan(col("v")) &&
        col("a").isNotNull)
      .groupBy("v").agg(count(lit(1)).as("l"),
        coalesce(sum(when(col("a"), 1L).otherwise(0L)), lit(0L))
          .as("la")))

  /** The AD arithmetic over a prebuilt (v, l, la) value-count frame —
    * shared with [[driftPanel]] (the ksFromCounts discipline). */
  private def adFromCounts(gIn: DataFrame): DataFrame = {
    // lazy pin: the totals fetch below materializes the checkpoint in
    // the same job (one pass over the lineage instead of a separate
    // materialization job — r15, guide §1.2 job-count)
    val g = gIn.localCheckpoint(false)
    // 1-row bounded parameter fetch: totals + distinct-value count +
    // the value envelope for the celled pass (folded in — r15)
    val tot = g.agg(coalesce(sum(col("l")), lit(0L)),
      coalesce(sum(col("la")), lit(0L)), count(lit(1)),
      min(col("v").cast("double")), max(col("v").cast("double"))).head()
    val n = tot.getLong(0)
    val na = tot.getLong(1)
    val nb = n - na
    val nVals = tot.getLong(2)
    val envelope =
      if (tot.isNullAt(3)) (0.0, 0.0)
      else (tot.getDouble(3), tot.getDouble(4))
    // the driver already fetched the cardinality — guard it here,
    // BEFORE the celled cumulative-sum jobs launch (the ks/w1
    // guardedOneKey contract, free on this code path)
    require(nVals <= MaxWindowValues,
      s"adFromCounts: value cardinality $nVals exceeds " +
        s"$MaxWindowValues — quantize the column first (the ksMicro " +
        "contract)")
    // distributed inclusive cums (celledCums — bit-equal to the
    // former global window), then the same exclusive-doubled forms
    val cc = celledCums(g, "v", Seq(
      "_cl" -> col("l"), "_cla" -> col("la"),
      "_clb" -> (col("l") - col("la"))), withNextV = false,
      envelope = Some(envelope))
    adFinish(cc, g, n, na, nb, nVals)
  }

  /** The AD finish over a frame carrying INCLUSIVE _cl / _cla / _clb
    * cums of l / la / (l − la) — shared by the standalone form and
    * [[driftPanel]]'s single cum pass (the ksFinish discipline). */
  /** The per-row AD term (micro) over the doubled forms — shared by
    * [[adFinish]] and [[driftPanel]]'s fused finish (the ksStatExpr
    * discipline): both sides' tail-weighted squared CDF gaps at one
    * distinct value, n/na/nb folded in as exact literals. */
  private def adTermMicro(n: Long, na: Long, nb: Long, l: Column,
                          b2: Column, ma2: Column,
                          mb2: Column): Column = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    def side(m2: Column, ni: Long): Column = {
      val x = dec(lit(n)) * dec(m2) - dec(lit(ni)) * dec(b2)
      val den = dec(b2) *
        (dec(lit(2L * n)) - dec(b2)) -
        dec(lit(n)) * dec(l)
      round(lit(1e6) *
        (dec(lit(n - 1)) * dec(l) * x * x).cast("double") /
        (dec(lit(n)) * dec(lit(n)) * dec(lit(ni)) * den)
          .cast("double")).cast("long")
    }
    side(ma2, na) + side(mb2, nb)
  }

  private def adFinish(cc: DataFrame, g: DataFrame, n: Long, na: Long,
                       nb: Long, nVals: Long): DataFrame = {
    val cum = cc.select(col("l"), col("la"),
      (col("l") - col("la")).as("lb"),
      (lit(2L) * (col("_cl") - col("l")) + col("l")).as("b2"),
      (lit(2L) * (col("_cla") - col("la")) + col("la")).as("ma2"),
      (lit(2L) * (col("_clb") - (col("l") - col("la"))) +
        (col("l") - col("la"))).as("mb2"))
    val out =
      if (na == 0L || nb == 0L || nVals < 2L)
        g.agg(count(lit(1))).select(lit(na).as("n_a"),
          lit(nb).as("n_b"), lit(nVals).as("n_values"),
          lit(null).cast("long").as("ad_micro"))
      else
        cum.agg(coalesce(sum(adTermMicro(n, na, nb, col("l"),
            col("b2"), col("ma2"), col("mb2"))), lit(0L)).as("ad"))
          .select(lit(na).as("n_a"), lit(nb).as("n_b"),
            lit(nVals).as("n_values"), col("ad").as("ad_micro"))
    out
  }

  /** Energy distance (Székely & Rizzo 2004) between the two segments
    * — the two-sample test with POWER AGAINST ANY alternative
    * (location, scale, shape): E = 2·E|X−Y| − E|X−X'| − E|Y−Y'| ≥ 0,
    * zero iff the distributions are equal. The pairwise absolute-sum
    * masses S_UV = ΣΣ|u−v| come from ONE sorted pass over the
    * distinct-value frame (prefix counts and prefix sums — the Gini
    * integral trick, never an all-pairs join), every mass is an
    * exact decimal integer of micro units, and
    * E = (2·S_AB·n_a·n_b − S_AA·n_b² − S_BB·n_a²)/(n_a²·n_b²) is ONE
    * mirrored division of exact decimals, ROUND 6 in micro units.
    * NULL when either side is empty. `value` must be an integer
    * quantization (micro — the d28 discipline). Returns one row
    * (n_a, n_b, energy_micro). */
  def energyDistance(df: DataFrame, valueMicro: Column,
                     isA: Column): DataFrame =
    energyFromCounts(df.select(valueMicro.cast("long").as("v"),
        isA.cast("boolean").as("a"))
      .filter(col("v").isNotNull && col("a").isNotNull)
      .groupBy("v").agg(
        coalesce(sum(when(col("a"), 1L).otherwise(0L)), lit(0L))
          .as("la"),
        coalesce(sum(when(!col("a"), 1L).otherwise(0L)), lit(0L))
          .as("lb")))

  /** The energy-distance arithmetic over a prebuilt (v, la, lb)
    * value-count frame — shared with [[driftPanel]] (the
    * ksFromCounts discipline). */
  private def energyFromCounts(gIn: DataFrame): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    // lazy pin: the celled envelope fetch materializes it in the same
    // job, and the main pass reads the blocks (r15, guide §1.2)
    val g = gIn.localCheckpoint(false)
    // prefix counts/sums of STRICTLY smaller values, per side —
    // inclusive distributed cums (celledCums) minus the row's own
    // contribution, bit-equal to the former global window
    energyFinish(celledCums(g, "v", Seq(
      "_ca" -> col("la"), "_cb" -> col("lb"),
      "_sa" -> (dec(col("la")) * dec(col("v"))),
      "_sb" -> (dec(col("lb")) * dec(col("v")))), withNextV = false))
  }

  /** The energy finish over a frame carrying INCLUSIVE _ca / _cb /
    * _sa / _sb cums of la / lb / la·v / lb·v — shared by the
    * standalone form and [[driftPanel]]'s single cum pass (the
    * ksFinish discipline). */
  /** One S_UV pairwise-mass term at a distinct value — shared by
    * [[energyFinish]] and [[driftPanel]]'s fused finish (the
    * ksStatExpr discipline):
    * S_UV = Σ_j (v·cntU< − sumU<)·lV_j + (v·cntV< − sumV<)·lU_j. */
  private def energyMassTerm(v: Column, cu: Column, su: Column,
                             lv: Column, cv: Column, sv: Column,
                             lu: Column): Column = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    (dec(v) * dec(cu) - su) * dec(lv) +
      (dec(v) * dec(cv) - sv) * dec(lu)
  }

  /** The energy-distance scalar tail over aggregated (na, nb, sab,
    * saa2, sbb2) — shared by [[energyFinish]] and [[driftPanel]]'s
    * fused finish. */
  private def energyStat(na: Column, nb: Column, sab: Column,
                         saa2: Column, sbb2: Column): Column = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    when(na > 0 && nb > 0,
      round((dec(lit(2L)) * sab * dec(na) * dec(nb) -
        saa2 * dec(nb) * dec(nb) -
        sbb2 * dec(na) * dec(na)).cast("double") /
        (dec(na) * dec(na) * dec(nb) * dec(nb)).cast("double"), 6))
      .otherwise(lit(null).cast("double"))
  }

  private def energyFinish(cc: DataFrame): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val z0 = lit(0L).cast("decimal(38,0)")
    val cum = cc.select(col("v"), col("la"), col("lb"),
      (col("_ca") - col("la")).as("ca"),
      (col("_cb") - col("lb")).as("cb"),
      (col("_sa") - dec(col("la")) * dec(col("v"))).as("sa"),
      (col("_sb") - dec(col("lb")) * dec(col("v"))).as("sb"))
    val agg = cum.agg(
      coalesce(sum(col("la")), lit(0L)).as("na"),
      coalesce(sum(col("lb")), lit(0L)).as("nb"),
      coalesce(sum(energyMassTerm(col("v"), col("ca"), col("sa"),
        col("lb"), col("cb"), col("sb"), col("la"))), z0).as("sab"),
      coalesce(sum(energyMassTerm(col("v"), col("ca"), col("sa"),
        col("la"), col("ca"), col("sa"), col("la"))), z0).as("saa2"),
      coalesce(sum(energyMassTerm(col("v"), col("cb"), col("sb"),
        col("lb"), col("cb"), col("sb"), col("lb"))), z0).as("sbb2"))
    // saa2/sbb2 double-count ordered pairs of the SAME side — which
    // is exactly the ΣΣ over all ordered pairs E|X−X'| needs (the
    // within-side mass uses n² ordered pairs, |x−x|=0 included)
    agg.select(col("na").as("n_a"), col("nb").as("n_b"),
      energyStat(col("na"), col("nb"), col("sab"), col("saa2"),
        col("sbb2")).as("energy_micro"))
  }

  /** The WHOLE two-sample family from ONE corpus aggregation — the
    * drift dashboard a segment comparison actually runs: KS (sup of
    * the CDF gap), W1 (its integral, in the column's units), the
    * Mann–Whitney z (stochastic dominance), Anderson–Darling
    * (tail-weighted), and energy distance (any-alternative) — the
    * [[seriesPanel]] argument applied to the two-sample family. The
    * corpus collapses ONCE to the distinct-value per-side count frame
    * (localCheckpointed — five consumers must not re-aggregate), and
    * each check rides its existing FromCounts body, so every stat is
    * bit-equal to its standalone operator given the same inputs (the
    * panel cannot drift from the individual reports; pinned in spec).
    *
    * `valueMicro` must be an integer quantization (W1/energy are
    * unit-bearing; MW/AD read the same values as doubles, exact
    * below 2^53). Returns (check, stat) rows ordered by check; NULL
    * stats carry the operators' degenerate contracts. */
  def driftPanel(df: DataFrame, valueMicro: Column, isA: Column,
                 cells: Int = 1024): DataFrame = {
    require(cells >= 1, "cells must be >= 1")
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val g = df.select(valueMicro.cast("long").as("v"),
        isA.cast("boolean").as("a"))
      .filter(col("v").isNotNull && col("a").isNotNull)
      .groupBy("v").agg(
        coalesce(sum(when(col("a"), 1L).otherwise(0L)), lit(0L))
          .as("ca"),
        coalesce(sum(when(!col("a"), 1L).otherwise(0L)), lit(0L))
          .as("cb"))
      // lazy pin: the totals fetch below materializes it (r15)
      .localCheckpoint(false)
    // ONE shared distributed cum pass feeds ks, w1, ad AND energy
    // (their finishes read disjoint projections of the same
    // inclusive cums — Σl = Σca+Σcb, the per-side value-weighted
    // sums ride as decimal columns), pinned once; mw keeps its own
    // midrankDoubled machinery (already celled). Before the r14
    // celledCums refit each body ran its own single-partition global
    // window over the value frame — 4 sorts of up to MaxWindowValues
    // rows through one task; now it is one celled pass + four cheap
    // finishes, and the per-stat arithmetic still lives in exactly
    // one place (the FromCounts/Finish split — panel ≡ standalone is
    // pinned in spec).
    //
    // ad's bounded parameters (the adFromCounts driver fetch, off
    // the pinned g) — fetched BEFORE the celled pass so the
    // MaxWindowValues contract fails EARLY, not after the eager cum
    // machinery has ground through a contract-violating frame (r14
    // review: the panel had the fetch after the checkpointed cums)
    val tot = g.agg(coalesce(sum(col("ca") + col("cb")), lit(0L)),
      coalesce(sum(col("ca")), lit(0L)), count(lit(1)),
      min(col("v").cast("double")), max(col("v").cast("double"))).head()
    val (n, na, nVals) = (tot.getLong(0), tot.getLong(1),
      tot.getLong(2))
    // the value envelope folds into the same 1-row fetch (r15): the
    // celled pass no longer runs its own min/max job
    val envelope =
      if (tot.isNullAt(3)) (0.0, 0.0)
      else (tot.getDouble(3), tot.getDouble(4))
    require(nVals <= MaxWindowValues,
      s"driftPanel: value cardinality $nVals exceeds " +
        s"$MaxWindowValues — quantize the column first (the ksMicro " +
        "contract)")
    // driver-loop counter (the q85 convention): the distinct-value
    // cardinality is the panel's cost driver — rows flat but time up
    // adjudicates as box/plan from the artifact alone
    graft.ops.Counters.note("drift_panel", "stage",
      Map("values" -> nVals, "rows" -> n))
    val nb = n - na
    val cc = celledCums(g, "v", Seq(
        "cum_a" -> col("ca"), "cum_b" -> col("cb"),
        "_sa" -> (dec(col("ca")) * dec(col("v"))),
        "_sb" -> (dec(col("cb")) * dec(col("v")))),
      withNextV = true, cells = cells, envelope = Some(envelope))
    // ONE fused finish aggregation (r14, guide §1.2/§2.4): every
    // stat's reduction is an order-free max/sum over the SAME cum
    // frame, so the five finish jobs (plus mw's second celled
    // midrank pass — its doubled midrank r2 = 2·(cumΣ − c) + c + 1
    // derives from the inclusive cums already on cc) collapse into
    // one wide aggregation, and cc itself no longer needs a
    // localCheckpoint: the celled pass has exactly one consumer.
    // Totals (n, na, nb, nVals) were fetched driver-side above, so
    // they fold in as exact literals — the same longs the standalone
    // finishes thread through their broadcast totals join. Each
    // per-row term and each scalar tail is the SHARED builder its
    // standalone finish uses (ksStatExpr / w1StatExpr / mwZ /
    // adTermMicro / energyMassTerm / energyStat), so the panel still
    // cannot drift from the individual operators (pinned in spec).
    // Measured on q104 (sf0.1, 583k distinct values): 6 jobs over
    // the value frame + 2 checkpoints + a second celled pass → 1
    // job + 1 checkpoint (g).
    val z0 = lit(0L).cast("decimal(38,0)")
    val c = col("ca") + col("cb")
    val cumC = col("cum_a") + col("cum_b")
    val gap = abs(col("cum_a") * lit(nb) - col("cum_b") * lit(na))
    val wide = cc.select(
      col("v"), col("ca"), col("cb"), col("next_v"),
      c.as("_c"), gap.as("_gap"),
      // mw's doubled midrank over the pooled counts
      (lit(2L) * (cumC - c) + c + lit(1L)).as("_r2"),
      // ad's doubled forms (the adFinish derivations over the cums)
      (lit(2L) * (cumC - c) + c).as("_b2"),
      (lit(2L) * (col("cum_a") - col("ca")) + col("ca")).as("_ma2"),
      (lit(2L) * (col("cum_b") - col("cb")) + col("cb")).as("_mb2"),
      // energy's strictly-smaller prefixes (the energyFinish
      // exclusive-ization of the inclusive cums)
      (col("cum_a") - col("ca")).as("_eca"),
      (col("cum_b") - col("cb")).as("_ecb"),
      (col("_sa") - dec(col("ca")) * dec(col("v"))).as("_esa"),
      (col("_sb") - dec(col("cb")) * dec(col("v"))).as("_esb"))
    val degAd = na == 0L || nb == 0L || nVals < 2L
    val aggCols = Seq(
      max(col("_gap")).as("dnum"),
      sum(when(col("next_v").isNotNull,
        dec(col("_gap")) * dec(col("next_v") - col("v")))).as("wnum"),
      coalesce(sum(dec(col("_c"))), z0).as("mw_n"),
      coalesce(sum(dec(col("ca"))), z0).as("mw_na"),
      coalesce(sum(dec(col("ca")) * dec(col("_r2"))), z0).as("mw_ra2"),
      coalesce(sum(dec(col("_c")) * dec(col("_c")) * dec(col("_c")) -
        dec(col("_c"))), z0).as("mw_t"),
      coalesce(sum(energyMassTerm(col("v"), col("_eca"), col("_esa"),
        col("cb"), col("_ecb"), col("_esb"), col("ca"))), z0)
        .as("sab"),
      coalesce(sum(energyMassTerm(col("v"), col("_eca"), col("_esa"),
        col("ca"), col("_eca"), col("_esa"), col("ca"))), z0)
        .as("saa2"),
      coalesce(sum(energyMassTerm(col("v"), col("_ecb"), col("_esb"),
        col("cb"), col("_ecb"), col("_esb"), col("cb"))), z0)
        .as("sbb2")) ++
      (if (degAd) Nil
       else Seq(coalesce(sum(adTermMicro(n, na, nb, col("_c"),
         col("_b2"), col("_ma2"), col("_mb2"))), lit(0L)).as("ad")))
    val f = wide.agg(aggCols.head, aggCols.tail: _*)
      .withColumn("na", lit(na)).withColumn("nb", lit(nb))
    val adStat =
      if (degAd) lit(null).cast("double")
      else col("ad").cast("double")
    val rows = array(
      struct(lit("ad_micro").as("check"), adStat.as("stat")),
      struct(lit("energy_micro").as("check"),
        energyStat(col("na"), col("nb"), col("sab"), col("saa2"),
          col("sbb2")).cast("double").as("stat")),
      struct(lit("ks_micro").as("check"),
        when(col("na") > 0 && col("nb") > 0, expr(ksStatExpr))
          .cast("double").as("stat")),
      struct(lit("mw_z").as("check"),
        mwZ(col("mw_n"), col("mw_na"), col("mw_ra2"), col("mw_t"))
          .cast("double").as("stat")),
      struct(lit("w1_micro").as("check"),
        when(col("na") > 0 && col("nb") > 0, expr(w1StatExpr))
          .cast("double").as("stat")))
    f.select(explode(rows).as("_p"))
      .select(col("_p.check").as("check"), col("_p.stat").as("stat"))
      .orderBy("check")
  }

  /** Brown–Forsythe test (Levene's test with the median center,
    * Brown & Forsythe 1974) — does VARIANCE differ across the k
    * groups: the dispersion companion of the location family
    * (q87 asks "do the means differ", this asks "do the spreads",
    * and it is the check that validates q87's equal-variance
    * reading). W = the one-way ANOVA F computed on the absolute
    * deviations |v − median_g| — the median center is what makes it
    * robust to the heavy tails that wreck the classical Levene mean
    * form.
    *
    * Shape at scale: per-group medians come from the grouped
    * narrowing selector ([[graft.ops.DistributedSelect
    * .groupedWeightedQuantile]] at q=0.5, weight 1 — log_B(n) shared
    * pushable scans, max over groups not sum), the ≤k-row median
    * frame broadcasts back for one deviation scan, and the rest IS
    * [[anovaF]] (exact decimal co-moments, per-group micro terms
    * before the cross-group sum). Integer inputs keep |v − med|
    * exactly integral (the lower-median is a data value), so the
    * deviation ANOVA stays engine-exact. Returns one row
    * (k_groups, n, df1, df2, w_stat). */
  def brownForsytheF(df: DataFrame, value: Column, group: Column,
                     buckets: Int = 32,
                     threshold: Long = 500): DataFrame = {
    val data = df.select(group.cast("string").as("g"),
        value.cast("long").as("v"))
      .filter(col("g").isNotNull && col("v").isNotNull)
    val med = graft.ops.DistributedSelect.groupedWeightedQuantile(
        data.withColumn("w", lit(1L)), "g", "v", "w", q = 0.5,
        buckets = buckets, threshold = threshold)
      .select(col("g"), col("value").as("med"))
    val dev = data.join(broadcast(med), "g")
      .select(col("g"),
        abs(col("v").cast("double") - col("med")).as("dv"))
    anovaF(dev, col("dv"), col("g"))
      .withColumnRenamed("f_stat", "w_stat")
  }

  /** Jarque–Bera normality test (Jarque & Bera 1980) over an
    * integer-valued column: sample skewness g1 and excess-prone
    * kurtosis g2 from EXACT central moments, and
    * JB = n/6·(g1² + (g2−3)²/4) — the corpus-audit question "is this
    * distribution even roughly normal", which decides whether the
    * z-scored monitors upstream (q38's ±3σ buckets, q41's PSI bins)
    * mean what they claim.
    *
    * Exactness: ONE aggregation collects the four raw power sums
    * Σv..Σv⁴ in decimal(38,0) (map-side combine; order-free), and
    * every moment/ratio after that is a single mirrored double
    * expression over those exact integers — no data-dependent
    * summation order anywhere. Integer inputs only (the power sums
    * must stay exact; a micro-scaled column would overflow the
    * fourth power — callers quantize COARSELY first if needed).
    * NULL statistics when n < 2 or the variance is 0. Returns one
    * row (n, mean, skew_g1, kurt_g2, jb_stat). */
  def jarqueBera(df: DataFrame, value: Column): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val z0 = lit(0L).cast("decimal(38,0)")
    val v = col("v")
    val a = df.select(value.cast("long").as("v"))
      .filter(v.isNotNull)
      .agg(count(lit(1)).as("n"),
        coalesce(sum(dec(v)), z0).as("s1"),
        coalesce(sum(dec(v) * dec(v)), z0).as("s2"),
        coalesce(sum(dec(v) * dec(v) * dec(v)), z0).as("s3"),
        coalesce(sum(dec(v) * dec(v) * dec(v) * dec(v)), z0).as("s4"))
    val nD = col("n").cast("double")
    val mu = col("s1").cast("double") / nD
    val m2 = col("s2").cast("double") / nD - mu * mu
    val m3 = col("s3").cast("double") / nD -
      lit(3.0) * mu * (col("s2").cast("double") / nD) +
      lit(2.0) * mu * mu * mu
    val m4 = col("s4").cast("double") / nD -
      lit(4.0) * mu * (col("s3").cast("double") / nD) +
      lit(6.0) * (mu * mu) * (col("s2").cast("double") / nD) -
      lit(3.0) * (mu * mu) * (mu * mu)
    val skew = m3 / (m2 * sqrt(m2))
    val kurt = m4 / (m2 * m2)
    val jb = nD / lit(6.0) *
      (skew * skew + (kurt - lit(3.0)) * (kurt - lit(3.0)) / lit(4.0))
    // divisions stay INSIDE the guarded branch (the welchFinish ANSI
    // discipline); with n >= 2 and m2 > 0 every denominator is > 0
    val ok = col("n") >= 2L && m2 > 0
    a.select(col("n"),
      when(col("n") >= 1L, round(mu, 6)).as("mean"),
      when(ok, round(skew, 6)).as("skew_g1"),
      when(ok, round(kurt, 6)).as("kurt_g2"),
      when(ok, round(jb, 6)).as("jb_stat"))
  }

  /** Friedman test (Friedman 1937) — the BLOCKED k-treatment rank
    * test: within each block (a time bucket) rank the k treatments'
    * cell means against each other, then ask whether any treatment
    * systematically ranks higher across blocks. The within-block
    * ranking is what removes the block effect (a hot hour lifts all
    * treatments together), which the unblocked Kruskal–Wallis (q88)
    * cannot do. Only COMPLETE blocks (all k treatments present)
    * participate — the standard treatment.
    *
    * Exactness: cell means quantize to micro (one rounded division
    * per cell); within-block DOUBLED midranks r2 = 2·rank + eq − 1
    * are exact integers over ≤k-row block partitions (bounded
    * windows, never a data-sized sort); and the tie-robust statistic
    * Q = (k−1)·Σⱼ(R2ⱼ − n(k+1))² / (Σ r2² − nk(k+1)²) is exact
    * integers into ONE division (the doubled-rank /4s cancel —
    * that is why the doubling works), ROUND 6. k, n and the
    * denominator are bounded 1-row parameter fetches (folded as
    * literals — the constant-key-join ban). NULL when k < 2, n < 1,
    * or every block ties completely. Returns one row
    * (k_treatments, n_blocks, q_stat). */
  def friedmanQ(df: DataFrame, valueMicro: Column, block: Column,
                treatment: Column): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val z0 = lit(0L).cast("decimal(38,0)")
    val cells = df.select(block.cast("long").as("b"),
        treatment.cast("string").as("t"),
        valueMicro.cast("long").as("v"))
      .filter(col("b").isNotNull && col("t").isNotNull &&
        col("v").isNotNull)
      .groupBy("b", "t")
      .agg(round(sum(dec(col("v"))).cast("double") / count(lit(1)))
        .cast("long").as("m"))
      // lazy pin: the treatment-count fetch materializes it (r15)
      .localCheckpoint(false)
    // 1-row bounded parameter fetch: the treatment count
    val k = cells.agg(countDistinct(col("t"))).head().getLong(0)
    val wb = Window.partitionBy("b")
    val ranked = cells
      .withColumn("bc", count(lit(1)).over(wb))
      .filter(col("bc") === k)
      .withColumn("r2",
        lit(2L) * rank().over(Window.partitionBy("b").orderBy("m")) +
          count(lit(1)).over(Window.partitionBy("b", "m")) - lit(1L))
      // lazy pin: the audit fetch below materializes it (r15)
      .localCheckpoint(false)
    // 1-row bounded audit fetch: block count and the rank-square mass
    val agRow = ranked.agg(count(lit(1)).as("nk"),
      coalesce(sum(dec(col("r2")) * dec(col("r2"))), z0).as("a2"))
      .head()
    val n = if (k == 0L) 0L else agRow.getLong(0) / k
    val a2 = BigDecimal(agRow.getDecimal(1)).toLong
    val denom = a2 - n * k * (k + 1) * (k + 1)
    ranked.groupBy("t").agg(sum(col("r2")).as("r2j"))
      .agg(coalesce(sum(
        dec(col("r2j") - lit(n * (k + 1))) *
          dec(col("r2j") - lit(n * (k + 1)))), z0).as("num"))
      .select(lit(k).as("k_treatments"), lit(n).as("n_blocks"),
        when(lit(k >= 2L && n >= 1L && denom > 0L),
          round(lit((k - 1).toDouble) * col("num").cast("double") /
            lit(denom.toDouble), 6))
          .otherwise(lit(null).cast("double")).as("q_stat"))
  }

  /** EWMA one-step forecast over the per-bucket mean series (the
    * q84/q86/q92 shared series), α = 1/2, window-truncated at
    * `window` past buckets — the online smoother every metric
    * dashboard runs, in an EXACT form: α = 1/2 makes every weight a
    * power of two (past bucket at offset j weighs 2^(W−j)), so the
    * forecast for bucket x is Σ m·2^(W−j) / Σ 2^(W−j) over the
    * PRESENT past buckets — one rational, one mirrored
    * round-division, no float recursion to diverge on. Gap-aware by
    * the same argument as [[acf]]: a missing hour contributes no
    * term and the denominator renormalizes over what exists (never a
    * positional lag that would silently bridge gaps).
    *
    * Shape at scale: the series is the ≤B-row post-agg bucket frame;
    * each bucket projects its weight onto its next `window` positions
    * (a bounded explode), and one groupBy collapses them to the
    * forecast table. The residual m − forecast is the anomaly signal
    * a threshold monitor consumes (the q38 z-bucket companion with
    * memory). Buckets with no past bucket in range emit no row.
    * Returns (x, m, forecast_micro, resid_micro) ordered by x. */
  def ewmaForecast(df: DataFrame, valueMicro: Column, bucket: Column,
                   window: Int = 16): DataFrame = {
    require(window >= 1 && window <= 62,
      s"window must be in [1, 62] (got $window)")
    ewmaFromMeans(bucketMeansMicro(df, valueMicro, bucket), window)
  }

  /** One micro-batch of a streaming EWMA monitor: the SAME per-bucket
    * (count, sum) fold as [[cusumBatchUpdate]] (one shared
    * implementation — the smoother and the changepoint monitors ride
    * identical state and cannot drift), with the [[ewmaForecast]]
    * report over the stream so far — bit-equal to the one-shot on the
    * same rows, because the bucket-mean series is a pure function of
    * the folded (count, sum) state. */
  def ewmaBatchUpdate(batch: DataFrame, valueMicro: Column,
                      bucket: Column, state: BucketSums,
                      window: Int = 16,
                      maxBuckets: Int = 8192): (DataFrame, BucketSums) = {
    require(window >= 1 && window <= 62,
      s"window must be in [1, 62] (got $window)")
    val merged = cusumFold(batch, valueMicro, bucket, state, maxBuckets)
    (ewmaFromMeans(meansFromBuckets(bucketSumsFrame(batch, merged)),
      window), merged)
  }

  /** The [[ewmaForecast]] body over an already-built (x, m) mean
    * series — shared by the batch and streaming-fold forms. */
  private def ewmaFromMeans(mm: DataFrame, window: Int): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val fc = mm
      .select(col("x").as("src"), col("m").as("pm"),
        explode(sequence(lit(1), lit(window))).as("j"))
      .select((col("src") + col("j")).as("x"), col("pm"),
        pow(lit(2.0), lit(window) - col("j")).cast("long").as("w"))
      .groupBy("x")
      .agg(sum(dec(col("pm")) * dec(col("w"))).as("num"),
        sum(col("w")).as("den"))
    mm.join(fc, "x")
      .select(col("x"), col("m"),
        round(col("num").cast("double") / col("den").cast("double"))
          .cast("long").as("forecast_micro"))
      .withColumn("resid_micro", col("m") - col("forecast_micro"))
      .orderBy("x")
  }

  /** Cochran's Q test (Cochran 1950) — the k-classifier completion of
    * McNemar (q74): given k PAIRED binary outcomes per subject
    * (correct/incorrect for each of k classifiers on the SAME
    * examples), does any classifier's success rate differ? With
    * k = 2 it reduces to McNemar's uncorrected χ²; beyond 2 it is
    * the blocked binary twin of Friedman.
    *
    * Q = (k−1)·(k·ΣCⱼ² − N²) / (k·N − ΣRᵢ²), where Cⱼ are the
    * per-classifier success totals, Rᵢ the per-subject success
    * counts, and N = ΣRᵢ — ALL exact integers from one aggregation
    * (per-subject row sums are width-k adds, the squares accumulate
    * in decimal), into ONE mirrored double division, ROUND 6. NULL
    * when the denominator is 0 (every subject all-correct or
    * all-wrong — no discriminating subjects). Rows with any NULL
    * flag drop (the mcnemar abstention contract). Returns one row
    * (n, k_classifiers, q_stat). */
  def cochranQ(df: DataFrame, corrects: Seq[Column]): DataFrame = {
    require(corrects.size >= 2 && corrects.size <= 16,
      s"need 2..16 paired classifiers (got ${corrects.size})")
    val k = corrects.size
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val z0 = lit(0L).cast("decimal(38,0)")
    val flags = corrects.zipWithIndex.map { case (c, i) =>
      when(c.cast("boolean"), 1L).otherwise(0L).as(s"c$i")
    }
    val rows = df
      .filter(corrects.map(_.isNotNull).reduce(_ && _))
      .select(flags: _*)
      .withColumn("ri", (0 until k).map(i => col(s"c$i"))
        .reduce(_ + _))
    val aggs = (0 until k).map(i =>
      coalesce(sum(col(s"c$i")), lit(0L)).as(s"s$i")) ++ Seq(
      count(lit(1)).as("n"),
      coalesce(sum(dec(col("ri")) * dec(col("ri"))), z0).as("r2"),
      coalesce(sum(col("ri")), lit(0L)).as("bigN"))
    val sumC2 = (0 until k).map(i => dec(col(s"s$i")) * dec(col(s"s$i")))
      .reduce(_ + _)
    val num = dec(lit(k.toLong)) * sumC2 -
      dec(col("bigN")) * dec(col("bigN"))
    val den = dec(lit(k.toLong)) * dec(col("bigN")) - col("r2")
    rows.agg(aggs.head, aggs.tail: _*)
      .select(col("n"), lit(k.toLong).as("k_classifiers"),
        when(den > 0,
          round(lit((k - 1).toDouble) * num.cast("double") /
            den.cast("double"), 6))
          .otherwise(lit(null).cast("double")).as("q_stat"))
  }

  /** MASE forecast-quality report (Hyndman & Koehler 2006) for the
    * [[ewmaForecast]] monitor: mean absolute EWMA residual over the
    * mean absolute one-step NAIVE difference — the scale-free "is
    * the smoother actually beating 'predict the previous bucket'"
    * number (MASE < 1 = yes) that decides whether q94's residual
    * thresholds mean anything.
    *
    * Exactness: both MAE numerators are exact integer sums of micro
    * residuals; MASE = (Σ|r_f|·n_n)/(Σ|d_n|·n_f) is ONE mirrored
    * double division of exact products (no intermediate mean
    * rounding); the two reported per-series MAEs each take one
    * mirrored round-division. The naive baseline differences the
    * consecutive PRESENT buckets (the observed series, the standard
    * convention). n_n/Σ|d_n| are a 1-row bounded parameter fetch.
    * Returns one row
    * (n_forecast, n_naive, mae_f_micro, mae_n_micro, mase). */
  def forecastMase(df: DataFrame, valueMicro: Column, bucket: Column,
                   window: Int = 16): DataFrame =
    maseFromMeans(bucketMeansMicro(df, valueMicro, bucket), window)

  /** The [[forecastMase]] body over an already-built (x, m) series —
    * shared with [[seriesPanel]]. */
  private def maseFromMeans(mm: DataFrame, window: Int): DataFrame = {
    val naive = mm
      .withColumn("pm", lag(col("m"), 1).over(Window.orderBy("x")))
      .filter(col("pm").isNotNull)
      .select(abs(col("m") - col("pm")).as("d"))
    // 1-row bounded parameter fetch: the naive baseline's parts
    val nRow = naive.agg(count(lit(1)),
      coalesce(sum(col("d")), lit(0L))).head()
    val nn = nRow.getLong(0)
    val sn = nRow.getLong(1)
    // reuse the pinned mm — rebuilding the series via ewmaForecast(df)
    // would re-aggregate the corpus a second time (round-11 review)
    ewmaFromMeans(mm, window)
      .agg(count(lit(1)).as("n_forecast"),
        coalesce(sum(abs(col("resid_micro"))), lit(0L)).as("sf"))
      .select(col("n_forecast"), lit(nn).as("n_naive"),
        when(col("n_forecast") > 0,
          round(col("sf").cast("double") / col("n_forecast"))
            .cast("long")).as("mae_f_micro"),
        (if (nn > 0) lit(math.round(sn.toDouble / nn))
         else lit(null)).cast("long").as("mae_n_micro"),
        when(col("n_forecast") > 0 && lit(sn) > 0,
          round(col("sf").cast("double") * lit(nn.toDouble) /
            (lit(sn.toDouble) * col("n_forecast").cast("double")), 6))
          .otherwise(lit(null).cast("double")).as("mase"))
  }

  /** KMV sketch SET ALGEBRA (Beyer et al., SIGMOD 2007) over two
    * segments of one key stream: union and intersection cardinality
    * estimates computed from the two k-minimum-values sketches ALONE —
    * the operation that makes distinct-count sketches compositional
    * at 100 TB (per-segment sketches are built once and merged/
    * intersected per question; the raw keys are never re-scanned).
    * K(A∪B) is the k smallest of K(A)∪K(B) (exactly the sketch the
    * union stream would have produced); the union estimate is the q25
    * estimator on it; the Jaccard estimate is the fraction of
    * K(A∪B) present in BOTH input sketches; intersection =
    * jaccard·union.
    *
    * One pass builds both sketches (bounded per-sketch state,
    * map-side merge; the 2·k-long fetch is a bounded parameter, never
    * data); one key-collapsed aggregation reports the EXACT
    * cardinalities beside the estimates — the self-audit every sketch
    * entry in this engine carries. Estimates are mirrored IEEE
    * expressions over the fetched integers (the q25 estimator
    * contract). Returns one row (n_a, n_b, exact_union, exact_inter,
    * est_union, est_inter). */
  def kmvSetOps(df: DataFrame, key: Column, inA: Column, inB: Column,
                k: Int = 64): DataFrame = {
    require(k >= 2 && k <= 4096, s"k must be in [2, 4096] (got $k)")
    import graft.functions.KMinValues
    val tagged = df.select(key.cast("string").as("u"),
        inA.as("a"), inB.as("b"))
      .filter(col("u").isNotNull && (col("a") || col("b")))
    // bounded parameter fetch: the two k-long sketches
    val skRow = tagged
      .select(Dedup.md5Long60(col("u")).as("h"), col("a"), col("b"))
      .agg(KMinValues.agg(k, when(col("a"), col("h"))).as("ska"),
        KMinValues.agg(k, when(col("b"), col("h"))).as("skb"))
      .head()
    val sa = skRow.getSeq[Long](0)
    val sb = skRow.getSeq[Long](1)
    val merged = KMinValues.mergeSketches(sa, sb, k)
    val nm = merged.length.toLong
    val saSet = sa.toSet
    val sbSet = sb.toSet
    val ni = merged.count(h => saSet(h) && sbSet(h)).toLong
    val eu = KMinValues.estimateOf(merged, k)
    tagged.groupBy("u")
      .agg(max(when(col("a"), 1L).otherwise(0L)).as("ha"),
        max(when(col("b"), 1L).otherwise(0L)).as("hb"))
      .agg(coalesce(sum(col("ha")), lit(0L)).as("n_a"),
        coalesce(sum(col("hb")), lit(0L)).as("n_b"),
        count(lit(1)).as("exact_union"),
        coalesce(sum(col("ha") * col("hb")), lit(0L))
          .as("exact_inter"))
      .select(col("n_a"), col("n_b"), col("exact_union"),
        col("exact_inter"),
        round(lit(eu), 6).as("est_union"),
        (if (nm > 0)
          round(lit(ni.toDouble) / lit(nm.toDouble) * lit(eu), 6)
        else lit(0.0d)).as("est_inter"))
  }

  /** Exact autocorrelation function of the per-bucket mean series at
    * lags 1..maxLag — the memory profile of the metric stream: a slow
    * ACF decay is the drift the changepoint family localizes, a
    * negative lag-1 is oscillation (load-balancer flapping), near-zero
    * everywhere is the well-mixed stream the monitors assume. The
    * series is the SAME bucket-mean construction as q84/q86 (one
    * shared builder — the tests cannot drift onto different series).
    *
    * Exactness: with n buckets and S = Σm, each deviation scales by n
    * (d = n·m − S, an exact integer — no float mean anywhere), so
    * r_k = Σ d_t·d_{t+k} / Σ d_t² is exact decimal integers into ONE
    * mirrored double division per lag (the n² factors cancel). Lag
    * pairs come from an equi-join on x+lag over the ≤B-row bucket
    * frame (gap-aware: a missing hour simply contributes no pair —
    * never a positional window that would silently bridge gaps).
    * n and S are 1-row bounded parameter fetches. Lags with no pairs
    * emit no row; a constant series reports NULL acf. Returns
    * (lag, n_pairs, acf) ordered by lag. */
  def acf(df: DataFrame, valueMicro: Column, bucket: Column,
          maxLag: Int = 8): DataFrame =
    acfFromMeans(bucketMeansMicro(df, valueMicro, bucket), maxLag)

  /** The [[acf]] body over an already-built (x, m) mean series —
    * shared with [[ljungBox]] so the portmanteau never rebuilds the
    * series its per-lag inputs came from. */
  private def acfFromMeans(mm: DataFrame, maxLag: Int): DataFrame = {
    require(maxLag >= 1 && maxLag <= 1000,
      s"maxLag must be in [1, 1000] (got $maxLag)")
    val z0 = lit(0L).cast("decimal(38,0)")
    // 1-row bounded parameter fetch: bucket count + series sum
    val nsRow = mm.agg(count(lit(1)),
      coalesce(sum(col("m")), lit(0L))).head()
    val n = nsRow.getLong(0)
    val sSum = nsRow.getLong(1)
    def dev(c: Column): Column =
      (lit(n).cast("decimal(38,0)") * c.cast("decimal(38,0)") -
        lit(sSum).cast("decimal(38,0)"))
    val denom = BigDecimal(mm
      .agg(coalesce(sum(dev(col("m")) * dev(col("m"))), z0))
      .head().getDecimal(0))
    mm.select(col("x").as("xa"), col("m").as("ma"),
        explode(sequence(lit(1), lit(maxLag))).as("lag"))
      .join(mm.select(col("x").as("xb"), col("m").as("mb")),
        col("xa") + col("lag") === col("xb"))
      .groupBy("lag")
      .agg(count(lit(1)).as("n_pairs"),
        coalesce(sum(dev(col("ma")) * dev(col("mb"))), z0).as("num"))
      .select(col("lag").cast("long").as("lag"), col("n_pairs"),
        when(lit(denom > 0),
          round(col("num").cast("double") / lit(denom.toDouble), 6))
          .otherwise(lit(null).cast("double")).as("acf"))
      .orderBy("lag")
  }

  /** Ljung–Box portmanteau test (Ljung & Box 1978) over [[acf]]'s
    * lags: LB = n(n+2)·Σₖ r_k²/(n−k) — ONE number answering "is
    * there ANY autocorrelation left", the whiteness check that
    * closes the series family (q92 profiles per-lag memory, this
    * aggregates it into the χ²(L) statistic a residual audit
    * thresholds — run it on q94's residuals to validate the
    * smoother).
    *
    * Exactness: r_k are q92's ROUND-6 values (shared derivation —
    * the two entries cannot drift onto different ACFs); each lag's
    * term quantizes to micro BEFORE the cross-lag sum (8 doubles
    * summed in engine order would not be mirrored); n is a bounded
    * parameter fetch. Lags with undefined acf (constant series) or
    * lag ≥ n drop. Returns one row (n_buckets, n_lags, lb_micro). */
  def ljungBox(df: DataFrame, valueMicro: Column, bucket: Column,
               maxLag: Int = 8): DataFrame =
    // ONE pinned series feeds both the n fetch and the ACF —
    // rebuilding it per consumer would re-aggregate the corpus
    // (round-11 review)
    lbFromMeans(bucketMeansMicro(df, valueMicro, bucket), maxLag)

  /** The [[ljungBox]] body over an already-built (x, m) series —
    * shared with [[seriesPanel]]. */
  private def lbFromMeans(mm: DataFrame, maxLag: Int): DataFrame = {
    val n = mm.count()
    val term = round(lit(1e6) * lit(n.toDouble) *
      lit((n + 2).toDouble) * (col("acf") * col("acf")) /
      (lit(n.toDouble) - col("lag").cast("double"))).cast("long")
    acfFromMeans(mm, maxLag)
      .filter(col("acf").isNotNull && col("lag") < n)
      .agg(count(lit(1)).as("n_lags"),
        coalesce(sum(term), lit(0L)).as("lb_micro"))
      .select(lit(n).as("n_buckets"), col("n_lags"), col("lb_micro"))
  }

  /** The WHOLE time-series diagnostic family from ONE corpus
    * aggregation — the dashboard query a production monitor actually
    * runs: where is the mean shift (CUSUM), is there a monotone trend
    * (Mann–Kendall), does the series oscillate like noise (runs
    * test), how much one-step memory is there (ACF lag-1), is ANY
    * autocorrelation left (Ljung–Box), and is the smoother beating
    * naive (MASE). The shared-scan argument of q78/q79 applied to the
    * series family: the corpus collapses ONCE to the (bucket, count,
    * sum) frame (localCheckpointed — six consumers must not
    * re-aggregate), every diagnostic rides that ≤B-row state through
    * its existing FromMeans/FromBuckets body, and each stat is
    * bit-equal to its standalone entry by construction (one shared
    * implementation per check — the panel cannot drift from the
    * individual reports).
    *
    * Returns (check, stat) rows ordered by check, stat as double
    * (cp_bucket and lb_micro are exact integers widened losslessly);
    * a check whose statistic is undefined reports NULL; acf_lag1
    * emits no row when no adjacent bucket pair exists (its q92
    * semantics). */
  def seriesPanel(df: DataFrame, valueMicro: Column, bucket: Column,
                  maxLag: Int = 8, window: Int = 16,
                  maxBuckets: Int = 4096): DataFrame = {
    // lazy pin: the first diagnostic's fetch materializes it (r15)
    val b = cusumBuckets(df, valueMicro, bucket).localCheckpoint(false)
    val mm = meansFromBuckets(b)
    def one(name: String, frame: DataFrame,
            stat: Column): DataFrame =
      frame.select(lit(name).as("check"),
        stat.cast("double").as("stat"))
    // mkFromMeans returns EMPTY below two buckets (its standalone
    // q84 contract: the median-slope selection has no pairs), but the
    // panel's oracle emits a NULL-stat row for any non-empty series —
    // short-circuit the 1-bucket case to a NULL row so both engines
    // agree (round-11 advice). The count rides the pinned ≤B-row b.
    val mkFrame =
      if (mm.limit(2).count() >= 2) mkFromMeans(mm, maxBuckets)
      else mm.limit(1).select(lit(null).cast("double").as("z"))
    one("cusum_cp_bucket", cusumFromBuckets(b), col("cp_bucket"))
      .unionAll(one("mann_kendall_z", mkFrame, col("z")))
      .unionAll(one("runs_z", runsFromMeans(mm), col("z")))
      .unionAll(one("acf_lag1", acfFromMeans(mm, 1), col("acf")))
      .unionAll(one("ljung_box_micro", lbFromMeans(mm, maxLag),
        col("lb_micro")))
      .unionAll(one("ewma_mase", maseFromMeans(mm, window),
        col("mase")))
      .orderBy("check")
  }

  /** McNemar's test for two PAIRED classifiers scored on the same
    * examples — the eval question DeLong (q63) answers for scores,
    * asked of hard decisions: of the examples the two classifiers
    * DISAGREE on, does one win significantly more? b = A right ∧ B
    * wrong, c = A wrong ∧ B right; the continuity-corrected statistic
    * (max(|b−c|−1, 0))²/(b+c) is χ²(1) under H₀. Counts are exact
    * longs; the numerator squares in decimal(38,0) and the SINGLE
    * float division lands at the end (ROUND 6, mirrored in the
    * oracle) — NULL when the classifiers never disagree (b+c = 0).
    * Rows where either correctness flag is NULL drop (the cohensKappa
    * abstention contract). Returns one row (n, b_only, c_only, chi2). */
  def mcnemar(df: DataFrame, correctA: Column,
              correctB: Column): DataFrame = {
    val a = correctA.cast("boolean")
    val b = correctB.cast("boolean")
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    df.filter(a.isNotNull && b.isNotNull)
      .agg(
        count(lit(1)).as("n"),
        coalesce(sum(when(a && !b, 1L).otherwise(0L)), lit(0L))
          .as("b_only"),
        coalesce(sum(when(!a && b, 1L).otherwise(0L)), lit(0L))
          .as("c_only"))
      .select(col("n"), col("b_only"), col("c_only"),
        round(
          (dec(greatest(abs(col("b_only") - col("c_only")) - lit(1L),
            lit(0L))) *
           dec(greatest(abs(col("b_only") - col("c_only")) - lit(1L),
            lit(0L)))).cast("double") /
          nullif(dec(col("b_only") + col("c_only")).cast("double"),
            lit(0.0d)),
          6).as("chi2"))
  }
}
