package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dataset-curation operators for a large-scale training-data pipeline:
  * deterministic train/val/test splits, stratified sampling, benchmark
  * contamination scans, TF-IDF term weighting, and corpus-mixture
  * reporting.
  *
  * Every assignment that must be reproducible across engines (splits,
  * sample selection, training order) derives from the portable
  * md5-based 60-bit hash of [[Dedup.md5Long60]], never from
  * partition-dependent randomness — re-running on different cluster
  * shapes, or in the DuckDB oracle, yields bit-identical decisions.
  */
object Curation {

  /** Uniform bucket in [0, buckets): md5-derived 60-bit integer of the
    * key's canonical string form, mod buckets. Pure per-row expression
    * — a map-only stage at any scale. */
  def hashBucket(key: Column, buckets: Int): Column =
    pmod(Dedup.md5Long60(key.cast("string")), lit(buckets.toLong))
      .cast("int")

  /** Deterministic split assignment: hash-bucket the stable id into
    * percent space; [0,trainPct) → train, [trainPct,trainPct+valPct) →
    * val, rest → test. A doc's split never depends on the rest of the
    * corpus, so incremental ingestion keeps prior assignments stable. */
  def splitName(key: Column, trainPct: Int = 90, valPct: Int = 5): Column = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct <= 100,
      "percentages must partition [0,100]")
    val b = hashBucket(key, 100)
    when(b < trainPct, "train")
      .when(b < trainPct + valPct, "val")
      .otherwise("test")
  }

  /** Split column attached to a docs frame keyed by `doc_id`. */
  def assignSplits(docs: DataFrame, trainPct: Int = 90,
                   valPct: Int = 5): DataFrame =
    docs.withColumn("split", splitName(col("doc_id"), trainPct, valPct))

  /** LEAKAGE-SAFE splits: hash the near-dup CLUSTER, not the doc, so
    * every member of a cluster lands in the same split — per-doc
    * hashing (the [[assignSplits]] form) puts two near-identical docs
    * in train and test with probability 2·p_test per pair, and the
    * eval set silently scores memorization. `components` is a
    * computed (id, component) assignment ([[Dedup.connectedComponents]]
    * output); docs without a row there are singletons and key by
    * their own id, so the corpus never shuffles through the
    * clustering — one left join on the id key, then the same
    * map-only portable-hash split. Cluster membership decides
    * TOGETHER, so incremental ingestion keeps assignments stable
    * only while cluster identity does (a batch that merges two
    * clusters re-keys the smaller one — the unavoidable cost of the
    * no-leakage invariant). */
  def assignSplitsByGroup(docs: DataFrame, idCol: String,
                          components: DataFrame, trainPct: Int = 90,
                          valPct: Int = 5): DataFrame =
    docs.join(components.withColumnRenamed("id", idCol),
        Seq(idCol), "left")
      .withColumn("split",
        splitName(coalesce(col("component"), col(idCol)),
          trainPct, valPct))
      .drop("component")

  /** Deterministic stratified sample: the n docs per stratum with the
    * smallest portable hash (uniform in expectation, reproducible).
    * Window form: one shuffle keyed on the stratum. With few strata at
    * 100 TB the full-sort window is the bottleneck — pre-thin each
    * stratum with a hash threshold (`hashBucket(id, B) < cap`) sized to
    * oversample n, or use the bounded `functions.TopK` aggregator
    * (k-row buffers through the exchange), before the exact window. */
  def stratifiedSample(docs: DataFrame, stratum: Column, id: Column,
                       n: Int): DataFrame = {
    val w = Window.partitionBy(stratum)
      .orderBy(Dedup.md5Long60(id.cast("string")), id)
    docs.withColumn("sample_rank", row_number().over(w))
      .filter(col("sample_rank") <= n)
  }

  /** Word-level n-grams of the whitespace tokenization, as the joined
    * token string; empty array when the doc has fewer than n tokens
    * (sequence(1,0) would otherwise count DOWN in Spark). */
  def wordNgrams(text: Column, n: Int): Column = {
    require(n >= 1, "n >= 1")
    ExprUtils.let(TextStats.tokens(text)) { toks =>
      when(size(toks) >= n,
        transform(sequence(lit(1), size(toks) - (n - 1)),
          i => concat_ws(" ", slice(toks, i, lit(n)))))
        .otherwise(array().cast("array<string>"))
    }
  }

  /** Benchmark-contamination scan: for each corpus doc, the number of
    * distinct word n-grams it shares with the benchmark set — the
    * standard eval-leakage check run before training. Corpus side:
    * explode distinct n-grams (map-only). Benchmark side: global
    * distinct of its n-grams. The join is keyed on the n-gram; long
    * n-grams (n >= 8) are near-unique, so no skew. `broadcastBench`
    * (default true) is sound because benchmark sets are eval-sized by
    * construction — pass false for a corpus-scale right side and let
    * AQE pick the strategy. Composes with Structured Streaming
    * unchanged: a streaming corpus joins the static benchmark set
    * (stream-static inner join) and aggregates in update mode
    * (proved in CurationSpec). */
  def contamination(corpus: DataFrame, bench: DataFrame, n: Int,
                    broadcastBench: Boolean = true): DataFrame = {
    // spread BEFORE the corpus-side n-gram explode (r14, guide §2.5)
    val cg = ExprUtils.spread(corpus).select(col("doc_id"),
      explode(array_distinct(wordNgrams(col("text"), n))).as("gram"))
    val bg0 = bench
      .select(explode(array_distinct(wordNgrams(col("text"), n)))
        .as("gram"))
      .distinct()
    val bg = if (broadcastBench) broadcast(bg0) else bg0
    cg.join(bg, "gram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("shared_ngrams"))
  }

  /** TF-IDF top-k terms per document. tf is the raw in-doc term count
    * normalized by doc length; idf is the smoothed ln((N+1)/(df+1))+1.
    * One explode feeds both aggregations: per-(doc,term) counts, and
    * the document-frequency table derived FROM those counts (so each
    * doc contributes once per distinct term). Doc length comes from a
    * window sum over the (doc,term) partial — no second scan of the
    * corpus. The df table is vocabulary-sized; no broadcast hint — at
    * 100 TB a vocabulary can be billions of terms, so AQE chooses. N
    * rides along as a 1-row aggregate cross join, not a driver-side
    * count(). */
  def tfidfTopTerms(docs: DataFrame, k: Int): DataFrame = {
    val pairs = docs
      .select(col("doc_id"),
        explode(TextStats.tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val withLen = pairs.withColumn("doc_len",
      sum(col("tf")).over(Window.partitionBy(col("doc_id"))))
    // N rides along on a constant-key broadcast equi-join against the
    // vocabulary-sized df table (NOT the corpus-sized pairs table, and
    // NOT a nested-loop cross join — a 1-row hash build side). The key
    // is attribute-DEPENDENT (x % 1, always 0) so constant folding
    // cannot collapse the condition to `true` and re-plan a
    // BroadcastNestedLoopJoin.
    val df_ = pairs.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      .withColumn("join_one", pmod(col("n_docs"), lit(1L)).cast("int"))
    val idf = df_.withColumn("join_one", pmod(col("df"), lit(1L)).cast("int"))
      .join(broadcast(nDocs), "join_one")
      .select(col("term"),
        (log((col("n_docs") + 1).cast("double") / (col("df") + 1)) + 1)
          .as("idf"))
    // Rank on the ROUNDED score (term asc tie-break): cross-engine
    // reproducible despite last-ulp ln() differences between libm
    // implementations.
    val scored = withLen
      .join(idf, "term")
      .withColumn("tfidf",
        round(col("tf").cast("double") / col("doc_len") * col("idf"),
          6))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term").asc)
    scored.withColumn("term_rank", row_number().over(w))
      .filter(col("term_rank") <= k)
      .select(col("doc_id"), col("term"), col("term_rank"),
        col("tfidf"))
  }

  /** Corpus-mixture report: per (source, lang) document and token
    * counts plus each cell's share of all tokens — the composition
    * table a data-mixing stage balances against. The global-window
    * share is computed over the POST-aggregation frame (|sources| ×
    * |langs| rows), so the single-partition window is bounded by the
    * mixture cardinality, not the corpus. */
  def mixtureReport(docs: DataFrame): DataFrame = {
    val agg = docs.groupBy("source", "lang").agg(
      count(lit(1)).as("docs"),
      sum(TextStats.tokenCount(col("text"))).as("tokens"))
    agg.withColumn("token_share",
      round(col("tokens").cast("double") /
        sum(col("tokens")).over(Window.partitionBy()), 6))
  }

  /** Deterministic hash-threshold row sample: keep rows whose portable
    * hash of `key` lands in the lowest `rate` fraction of the hash
    * space. The reproducible substitute for random sampling in any
    * pipeline that must be replayable: the decision is per-row,
    * independent of partitioning, cluster shape, and engine — and
    * samples are NESTED (rate 0.05 ⊆ rate 0.1), so refining an
    * estimate never resamples disjoint rows. This is the scalable
    * quantile/statistics path at 100 TB: exact order statistics over a
    * deterministic sample with a known rate, instead of a full sort. */
  def hashSample(df: DataFrame, key: Column, rate: Double): DataFrame = {
    require(rate >= 0.0 && rate <= 1.0, "rate must be in [0, 1]")
    df.filter(pmod(Dedup.md5Long60(key.cast("string")), lit(1000000L)) <
      math.round(rate * 1000000))
  }

  /** Temperature-reweighted mixture sampling — the standard rebalancing
    * step of multilingual/multi-source pretraining (the mC4 / XLM-R
    * recipe): target shares q_s ∝ p_s^(1/T), where p_s is group s's
    * token share and T > 1 flattens the mixture toward rare groups.
    * Realized downsample-only: per-group keep rate
    * r_s = (q_s/p_s) / max(q_s/p_s) = p_s^(1/T−1) normalized so the
    * rarest group keeps everything and over-represented groups are
    * thinned. Selection is the deterministic portable-hash threshold
    * (`md5Long60(id) mod 1e6 < r_s·1e6`) — reproducible across runs,
    * cluster shapes, and engines; a doc's fate never depends on
    * partitioning. Rates are rounded to 6 digits BEFORE the threshold
    * so the kept set is cross-engine identical despite last-ulp pow()
    * differences (the d19/e6 rounding discipline).
    *
    * Shape at scale: one aggregation for the group token shares (a
    * |groups|-row frame; its share/max windows are bounded by mixture
    * cardinality, as in [[mixtureReport]]), broadcast-joined back, then
    * a pure per-row filter — the corpus is scanned twice and never
    * shuffled. Zero-token groups get rate 0 (nothing to keep). */
  def temperatureSample(docs: DataFrame, groupCol: String, idCol: String,
                        textCol: String, temperature: Double): DataFrame = {
    require(temperature > 0, "temperature must be > 0")
    val shares = docs.groupBy(groupCol)
      .agg(sum(TextStats.tokenCount(col(textCol))).as("_toks"))
      .withColumn("_p", col("_toks").cast("double") /
        sum(col("_toks")).over(Window.partitionBy()))
    val rates = shares
      .withColumn("_qp", when(col("_p") > 0,
        pow(col("_p"), lit(1.0 / temperature - 1.0))).otherwise(lit(0.0)))
      .withColumn("rate",
        round(col("_qp") / max(col("_qp")).over(Window.partitionBy()), 6))
      .select(col(groupCol), col("rate"))
    docs.join(broadcast(rates), groupCol)
      .filter(pmod(Dedup.md5Long60(col(idCol).cast("string")),
          lit(1000000L)) <
        round(col("rate") * 1000000).cast("long"))
  }

  /** Epoch MIXING PLAN to a target doc budget — the pretraining
    * data-mixing table (the LLaMA/GPT-3 "source seen E.F epochs"
    * column): allocate `targetN` document slots across domains by
    * square-root temperature (α = 1/2, the multilingual rebalancing
    * default), then express each domain's allocation as FULL EPOCHS
    * over the domain plus a fractional remainder — the UPSAMPLING
    * [[temperatureSample]] cannot express (its rates cap at 1; a rare
    * domain a real mix repeats 3.7× needs an epoch plan, not a keep
    * rate). Downsampled domains get epochs = 0 and a sub-1e6 ppm rate;
    * upsampled domains get epochs ≥ 1 plus the remainder rate.
    *
    * Exactness: s_i = round(1e6·√n_i) is one exactly-rounded IEEE
    * sqrt quantized to an integer; S = Σ s_i is an integer sum
    * (order-free); target_i = round((targetN·s_i)/S) is ONE mirrored
    * division of exact integers; epochs and the remainder are integer
    * div/mod; rem_rate_ppm = round(1e6·rem/n_i) is one more
    * integer-ratio round — the d28 discipline end to end, so the plan
    * is hash-exact cross-engine. Null domains drop. Returns
    * (domain, n_in, target_ct, epochs, rem_rate_ppm) — one row per
    * domain, bounded by mixture cardinality. */
  def mixEpochPlan(docs: DataFrame, domainCol: String,
                   targetN: Long): DataFrame = {
    require(targetN >= 1, "targetN must be >= 1")
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val counts = docs.filter(col(domainCol).isNotNull)
      .groupBy(col(domainCol).as("domain"))
      .agg(count(lit(1)).as("n_in"))
      .withColumn("s_micro",
        round(lit(1e6) * sqrt(col("n_in").cast("double"))).cast("long"))
    val tot = counts.agg(coalesce(sum(dec(col("s_micro"))),
      lit(0L).cast("decimal(38,0)")).as("s_tot"))
    counts
      .withColumn("_one", pmod(col("s_micro"), lit(1L)).cast("int"))
      .join(broadcast(tot.withColumn("_one",
        pmod(col("s_tot"), lit(1L)).cast("int"))), "_one")
      .withColumn("target_ct",
        round((dec(lit(targetN)) * dec(col("s_micro"))).cast("double") /
          col("s_tot").cast("double")).cast("long"))
      .withColumn("epochs", expr("target_ct div n_in"))
      .withColumn("rem_rate_ppm",
        round(lit(1e6) * (col("target_ct") - col("epochs") *
            col("n_in")).cast("double") /
          col("n_in").cast("double")).cast("long"))
      .select(col("domain"), col("n_in"), col("target_ct"),
        col("epochs"), col("rem_rate_ppm"))
  }

  /** The realized fractional remainder of a [[mixEpochPlan]]: the
    * docs the plan samples BEYOND its full epochs, selected by the
    * deterministic portable-hash threshold (nested, partition-free —
    * the [[hashSample]] decision per row). The materialized mix is
    * `epochs` full copies of each domain plus exactly these rows.
    * Returns the input columns plus `rem_rate_ppm`. */
  def mixEpochRemainder(docs: DataFrame, idCol: String,
                        domainCol: String, plan: DataFrame): DataFrame =
    docs.join(broadcast(plan.select(col("domain").as(domainCol),
        col("rem_rate_ppm"))), domainCol)
      .filter(pmod(Dedup.md5Long60(col(idCol).cast("string")),
        lit(1000000L)) < col("rem_rate_ppm"))

  /** The MATERIALIZED mix of a [[mixEpochPlan]]: every upsampled
    * domain's documents repeat `epochs` times (epoch_no 1..epochs —
    * a map-side explode over a broadcast plan, no shuffle) and the
    * deterministic hash-threshold remainder rides along as
    * epoch_no 0 ([[mixEpochRemainder]]'s rows) — together exactly
    * the "source seen E.F epochs" training stream the plan promises.
    * Realized per-domain volume is epochs·n_in + |remainder|; the
    * d74 entry audits |realized − target| against the threshold's
    * quantization+sampling bound. Returns (idCol, domainCol,
    * epoch_no). */
  def mixRealize(docs: DataFrame, idCol: String, domainCol: String,
                 plan: DataFrame): DataFrame =
    docs.join(broadcast(plan.select(col("domain").as(domainCol),
        col("epochs"))), domainCol)
      // Spark's sequence(1, 0) DESCENDS ([1, 0]) instead of emitting
      // empty — epochs = 0 domains must drop before the explode
      .filter(col("epochs") >= 1L)
      .select(col(idCol), col(domainCol),
        explode(sequence(lit(1L), col("epochs"))).as("epoch_no"))
      .unionByName(mixEpochRemainder(docs, idCol, domainCol, plan)
        .select(col(idCol), col(domainCol),
          lit(0L).as("epoch_no")))

  /** Hashed-bigram bucket ids of one document's text — DSIR's feature
    * map (and nothing else's: winnowing keeps positions, this is a
    * bag): the shared [[wordNgrams]] gram builder (which let-binds the
    * token split — one tokenization per row) mapped through the
    * portable [[Dedup.md5Long60]] into `buckets` buckets, map-side
    * per row. Documents under 2 tokens emit nothing. */
  private def bigramBuckets(text: Column, buckets: Int): Column =
    transform(wordNgrams(text, 2),
      g => pmod(Dedup.md5Long60(g), lit(buckets.toLong)))

  /** DSIR importance log-ratios (Xie, Santurkar, Ma & Liang, "Data
    * Selection for Language Models via Importance Resampling",
    * NeurIPS 2023): the trained artifact of the data-selection pass —
    * per hashed-bigram bucket, the smoothed log ratio
    * ln(p_target(b) / p_raw(b)) between a SMALL target corpus (the
    * domain you want more of) and the big raw corpus, Laplace α = 1.
    * A document's importance weight is then the SUM of its bigrams'
    * ratios ([[dsirScores]]), and resampling by that weight shifts
    * the raw corpus toward the target distribution — the
    * hashed-n-gram importance scheme that selected GPT-3-style
    * quality subsets at corpus scale.
    *
    * Shape at scale: two bucket-count aggregations (each bounded by
    * `buckets`, partial map-side combine), totals fetched as 1-row
    * bounded parameters, one map-side expression per bucket — the
    * result is `buckets` rows, a broadcastable parameter table.
    * Exactness: the only transcendental is ONE ln per bucket over
    * identical doubles in a pinned operand order (the g6 aa_micro
    * precedent), quantized to integer micro immediately — so
    * per-document sums downstream are order-free integer sums.
    * Returns (b, t_ct, r_ct, ratio_micro) for ALL buckets, ordered
    * by b. */
  def dsirLogRatios(target: DataFrame, raw: DataFrame,
                    textCol: String, buckets: Int): DataFrame = {
    require(buckets >= 2 && buckets <= (1 << 20),
      "buckets in [2, 2^20] — the ratio table must stay broadcastable")
    // spread BEFORE the per-bigram portable-md5 explode — the CPU
    // cost of the trainer (r14, guide §2.5); the bucket agg
    // reshuffles right after anyway
    def counts(df: DataFrame): DataFrame = ExprUtils.spread(df)
      .select(explode(bigramBuckets(col(textCol), buckets)).as("b"))
      .groupBy("b").agg(count(lit(1)).as("ct"))
    val tc = counts(target).localCheckpoint()
    val rc = counts(raw).localCheckpoint()
    // 1-row bounded parameters: total bigram masses
    val tn = tc.agg(coalesce(sum(col("ct")), lit(0L))).head().getLong(0)
    val rn = rc.agg(coalesce(sum(col("ct")), lit(0L))).head().getLong(0)
    val s = target.sparkSession
    val dom = s.range(buckets.toLong).select(col("id").as("b"))
    dom.join(tc.withColumnRenamed("ct", "t_ct"), Seq("b"), "left")
      .join(rc.withColumnRenamed("ct", "r_ct"), Seq("b"), "left")
      .select(col("b"),
        coalesce(col("t_ct"), lit(0L)).as("t_ct"),
        coalesce(col("r_ct"), lit(0L)).as("r_ct"))
      .withColumn("ratio_micro",
        round(lit(1e6) * log(
          ((col("t_ct") + 1L).cast("double") /
            lit((tn + buckets).toDouble)) /
          ((col("r_ct") + 1L).cast("double") /
            lit((rn + buckets).toDouble)))).cast("long"))
      .orderBy("b")
  }

  /** Per-document DSIR importance scores over a trained
    * [[dsirLogRatios]] table: each document's hashed bigrams join the
    * broadcast ratio table and the score is the integer-micro SUM of
    * its buckets' log ratios (= ln of the document's importance
    * weight, up to the per-bucket quantization) — order-free, so
    * hash-exact cross-engine. Map-side explode + broadcast join +
    * one doc-keyed aggregation; documents without bigrams keep
    * (0, 0). Returns (idCol, n_grams, score_micro). */
  def dsirScores(docs: DataFrame, idCol: String, textCol: String,
                 ratios: DataFrame): DataFrame = {
    // the feature map is parameterized by the RATIO TABLE's bucket
    // count — re-derived from the artifact itself (one bounded count
    // over a broadcastable table) so a caller cannot mismatch
    // feature map and artifact. That re-derivation is only sound for
    // a DENSE domain, so a sparse table (e.g. filtered to non-zero
    // buckets — which would silently re-bucket every gram with the
    // wrong modulus AND drop grams at the join) is refused.
    val buckets = ratios.count().toInt
    val mxb = ratios.agg(max(col("b"))).head()
    require(!mxb.isNullAt(0) && mxb.getLong(0) + 1 == buckets.toLong,
      s"ratio table must span the dense bucket domain 0..B-1 as " +
        s"produced by dsirLogRatios (count=$buckets, max b=" +
        s"${if (mxb.isNullAt(0)) "null" else mxb.getLong(0)})")
    // spread BEFORE the per-bigram portable-md5 explode (r14, guide
    // §2.5): scoring is embarrassingly parallel map work, but a
    // single-row-group corpus scan would run it one-threaded
    val scored = ExprUtils.spread(docs)
      .select(col(idCol),
        explode(bigramBuckets(col(textCol), buckets)).as("b"))
      .join(broadcast(ratios.select(col("b"), col("ratio_micro"))),
        "b")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        coalesce(sum(col("ratio_micro")), lit(0L)).as("score_micro"))
    docs.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("score_micro"), lit(0L)).as("score_micro"))
  }

  /** DSIR SELECTION by the Gumbel top-k trick: [[dsirScores]] gives
    * each document its log importance weight ln w_i (integer micro);
    * adding an independent standard Gumbel draw to each log weight
    * and taking the k LARGEST keys samples k documents WITHOUT
    * replacement with probability proportional to w_i — exactly the
    * importance resampling DSIR prescribes, as one sort instead of a
    * sequential draw (the Gumbel-top-k identity; the A-ES reservoir
    * [[weightedReservoir]] is the linear-weight sibling). The Gumbel
    * is DETERMINISTIC: u from the portable hash of the id,
    * g = −ln(−ln(u)), so the draw replays cross-engine (same ppm
    * uniform, same libm ln — the d75 precedent) and re-running the
    * selection over the same corpus is reproducible. key =
    * score_micro + round(1e6·g); ties break on ascending id. Returns
    * the k selected rows (idCol, n_grams, score_micro, gumbel_micro,
    * key_micro), highest key first.
    *
    * `observeScored` (the curateSurvivors observeWith convention):
    * an Observation to ride the scored frame with its row count, so
    * a composition entry (llm_select_full) publishes the scored-doc
    * volume in the bench artifact without a second scan. */
  def dsirSelect(docs: DataFrame, idCol: String, textCol: String,
                 ratios: DataFrame, k: Int,
                 observeScored: Option[
                   org.apache.spark.sql.Observation] = None)
      : DataFrame = {
    require(k >= 1, "k >= 1")
    val u = (pmod(Dedup.md5Long60(col(idCol).cast("string")),
      lit(1000000L)).cast("double") + 0.5) / lit(1e6)
    val scored0 = dsirScores(docs, idCol, textCol, ratios)
    val scored = observeScored
      .map(o => scored0.observe(o, count(lit(1)).as("rows")))
      .getOrElse(scored0)
    scored
      .withColumn("gumbel_micro",
        round(lit(1e6) * -log(-log(u))).cast("long"))
      .withColumn("key_micro",
        col("score_micro") + col("gumbel_micro"))
      .orderBy(col("key_micro").desc, col(idCol).asc)
      .limit(k)
  }

  /** One micro-batch of [[dsirGateStream]]: the DSIR importance gate
    * report over the arriving rows — each document scored by
    * [[dsirScores]] against the PINNED ratio artifact, rows clearing
    * `minScoreMicro` emitted as (idCol, n_grams, score_micro). Pure
    * and stateless w.r.t. the stream (the artifact is trained once
    * per corpus snapshot and immutable — the decontaminateBatch
    * argument), so replaying batches in any order or multiplicity
    * reproduces the one-shot filtered [[dsirScores]] exactly; d80
    * drives that equivalence through the driver's oracle. */
  def dsirGateBatch(batch: DataFrame, idCol: String, textCol: String,
                    ratios: DataFrame, minScoreMicro: Long)
      : DataFrame =
    dsirScores(batch, idCol, textCol, ratios)
      .filter(col("score_micro") >= minScoreMicro)

  /** Streaming DSIR quality gate: the importance-threshold filter a
    * streaming ingestion runs against a trained [[dsirLogRatios]]
    * artifact — every micro-batch scores its documents map-side
    * (explode + broadcast ratio join + one doc-keyed sum) and emits
    * the rows shifted far enough toward the target distribution.
    * Standing state is the 1024-row ratio table: EXACT, IMMUTABLE,
    * and stream-independent, so the gate inherits the strongest
    * replay story in the streaming family (the decontaminateStream
    * argument): re-delivered rows re-score identically under any
    * failure interleaving. */
  def dsirGateStream(docs: DataFrame, idCol: String, textCol: String,
                     ratios: DataFrame, minScoreMicro: Long)
                    (sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.Monitor.each(docs)(
      dsirGateBatch(_, idCol, textCol, ratios, minScoreMicro))(sink)

  /** Sequence packing: assign documents to fixed-token-budget training
    * sequences — the step between chunking (d12) and training order.
    * A doc's sequence id is the bin its STARTING token offset falls in
    * under a running token count, so a document spanning a boundary
    * begins in the sequence owning its first token (greedy
    * document-boundary packing, the standard pretraining layout).
    *
    * Packing is inherently sequential, so it is sharded: each of
    * `shards` independent streams packs in parallel (shard =
    * id % shards — deterministic, SQL-reproducible), and the only
    * window runs per shard ordered by id — per-task work is
    * n/shards, parameterized to the cluster exactly like
    * [[trainOrder]]'s range partitions. Output: (id, shard, seq_id,
    * seq_offset) with seq_offset = the doc's first token's position
    * within its sequence. */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
                    seqTokens: Int, shards: Int): DataFrame = {
    require(seqTokens >= 1 && shards >= 1, "seqTokens, shards >= 1")
    val w = Window.partitionBy("shard").orderBy(idCol)
    docs.select(col(idCol), pmod(col(idCol), lit(shards.toLong))
          .cast("long").as("shard"),
        TextStats.tokenCount(col(textCol)).as("_n"))
      .withColumn("_start", sum(col("_n")).over(w) - col("_n"))
      .select(col(idCol), col("shard"),
        floor(col("_start") / lit(seqTokens.toDouble)).cast("long")
          .as("seq_id"),
        (col("_start") % seqTokens).cast("long").as("seq_offset"))
  }

  /** Weighted reservoir sampling WITHOUT replacement (Efraimidis–
    * Spirakis A-ES): each row draws priority u^(1/w) for a uniform u
    * and weight w, and the k largest priorities are the sample —
    * inclusion probability proportional to weight at every prefix, the
    * standard quality- or length-weighted document subsampling step.
    *
    * Reproducibility (the [[hashSample]] discipline): u is not random
    * but the portable md5 hash of the id mapped to the open unit
    * interval, (h mod 1e6 + 0.5)/1e6 — a row's draw depends only on
    * its id, never on partitioning, cluster shape, or engine. The
    * priority is quantized to integer NANO-units BEFORE the top-k
    * (round(u^(1/w)·1e9) — with the id as total tie-break), so
    * cross-engine pow() last-ulp drift cannot flip sample membership.
    * Nano, not the usual micro: u^(1/w) compresses into [exp(−14.5/w),
    * 1) for large weights, so a 1e6 quantum leaves only ~14.5e6/w
    * distinct values (w in the thousands → a few thousand values,
    * massive tie groups broken by ascending id — the sample would skew
    * low-id and lose the inclusion∝weight property). 1e9 buys 1000×
    * the spread while keeping the ulp-boundary risk negligible: pow's
    * ~2-ulp error on a value ≤ 1 is ~2e-16 absolute = 2e-7 of the 1e-9
    * quantum, so a 100-row sample disagrees across engines with
    * probability ~4e-5. (A log-domain key round(scale·ln(u)/w) orders
    * identically but has range AND magnitude ~14.5·scale/w, so at equal
    * spread its boundary risk is strictly worse — the key magnitude
    * grows with the spread while pow's stays ≤ scale.)
    *
    * Shape at scale: priority is a pure per-row expression; the top-k
    * is a k-bounded TakeOrdered (partial top-k per partition → k-row
    * merge on the driver reducer), never a full sort. Weights <= 0
    * are excluded (their inclusion probability is 0). */
  def weightedReservoir(df: DataFrame, id: Column, weight: Column,
                        k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val u = (pmod(Dedup.md5Long60(id.cast("string")), lit(1000000L))
      .cast("double") + lit(0.5)) / lit(1000000.0)
    df.filter(weight > 0)
      .withColumn("priority_nano",
        round(pow(u, lit(1.0) / weight.cast("double")) * 1e9)
          .cast("long"))
      .orderBy(col("priority_nano").desc, id.asc)
      .limit(k)
  }

  /** Cumulative Poisson(1) CDF thresholds in hash micro-units: a draw
    * u lands weight w = #(thresholds <= u's bucket). Literal integers
    * so a SQL oracle carries the identical constants. */
  val PoissonCdfMicro: Seq[Long] =
    Seq(367879L, 735758L, 919698L, 981011L, 996340L, 999405L)

  /** Poisson bootstrap of a per-row metric — the single-pass
    * uncertainty quantification that works at any scale: true
    * resampling needs n draws over the whole dataset per replicate,
    * but Binomial(n, 1/n) → Poisson(1), so each row independently
    * contributes weight ~ Poisson(1) to each of `replicates`
    * pseudo-resamples and every replicate mean is one weighted
    * aggregation of the same scan. The spread of the replicate means
    * IS the sampling distribution of the mean — a confidence interval
    * from one pass, no iteration, no second scan.
    *
    * Determinism (the [[hashSample]] discipline): the Poisson draw for
    * (row, replicate) inverts the CDF at the portable-hash uniform of
    * `id || '|' || replicate` using integer thresholds
    * ([[PoissonCdfMicro]], weights capped at 6 — P(>6) < 1e-4), so
    * every engine assigns identical weights. Output: one row per
    * replicate (replicate, n_eff, mean_val round 6); the exact
    * integer sums divide once at the end.
    *
    * Shape at scale: sequence+explode multiplies the scan by
    * `replicates` ROWS but not by shuffle — the groupBy reduces to
    * `replicates` rows with map-side partials. For wide replicate
    * counts fold the weights into an array aggregation instead.
    *
    * A replicate whose Poisson weights all drew 0 (possible only on
    * tiny inputs — P ≈ e^(−n) per replicate) has no resample to take
    * a mean of: its mean_val is explicitly null (n_eff 0), guarded
    * rather than left to division semantics, and the d32 oracle SQL
    * carries the same CASE. */
  def poissonBootstrapMeans(df: DataFrame, id: Column, value: Column,
                            replicates: Int): DataFrame =
    poissonWeighted(df, id, value, replicates)
      .groupBy("replicate").agg(
        sum(col("_w")).as("n_eff"),
        when(sum(col("_w")) > 0,
          round(sum(col("_w") * col("_v")).cast("double") /
            sum(col("_w")).cast("double"), 6))
          .otherwise(lit(null).cast("double")).as("mean_val"))
      .orderBy("replicate")

  /** The keyed deterministic Poisson(1) draw shared by
    * [[poissonBootstrapMeans]] and Eval.pairedBootstrap — one row per
    * (input row, replicate) carrying the integer weight, so the draw
    * convention (hash-key shape, CDF table) lives in exactly one
    * place and the d32 and q85 families cannot drift (round-11
    * review). Returns (replicate, _v, _w). */
  private[pipeline] def poissonWeighted(df: DataFrame, id: Column,
                                        value: Column,
                                        replicates: Int): DataFrame = {
    require(replicates >= 1, "replicates must be >= 1")
    val b = explode(sequence(lit(0), lit(replicates - 1)))
    val keyed = df
      .select(id.cast("string").as("_id"), value.cast("long").as("_v"),
        b.as("replicate"))
      .withColumn("replicate", col("replicate").cast("long"))
      .withColumn("_u", pmod(Dedup.md5Long60(
        concat(col("_id"), lit("|"),
          col("replicate").cast("string"))), lit(1000000L)))
    val w = PoissonCdfMicro.foldLeft(lit(0L)) { (acc, t) =>
      acc + when(col("_u") >= t, 1L).otherwise(0L)
    }
    keyed.withColumn("_w", w)
      .select(col("replicate"), col("_v"), col("_w"))
  }

  /** Snapshot reconciliation: per-doc status between two corpus
    * versions — added / removed / changed / unchanged — the diff a
    * pipeline audits before retraining on a refreshed crawl. Both
    * sides project to (id, content sha-256) FIRST, so the full-outer
    * join shuffles 40-byte rows instead of document bodies; the join
    * keys co-partition on the id. (A SQL oracle can compare raw text
    * equality instead — same result modulo sha-256 collisions.) */
  def corpusDiff(oldDocs: DataFrame, newDocs: DataFrame, idCol: String,
                 textCol: String): DataFrame = {
    def keyed(df: DataFrame, h: String) = df.select(
      col(idCol).as("doc_id"),
      sha2(col(textCol).cast("binary"), 256).as(h))
    keyed(oldDocs, "_ho")
      .join(keyed(newDocs, "_hn"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("_ho").isNull, "added")
          .when(col("_hn").isNull, "removed")
          .when(col("_ho") =!= col("_hn"), "changed")
          .otherwise("unchanged").as("status"))
  }

  /** Weighted stratified sampling: the [[weightedReservoir]] A-ES draw
    * (priority_nano = round(u^(1/w)·1e9), portable-hash u) taken
    * per-STRATUM — the n highest priorities within each stratum, ties
    * by id — so every stratum keeps its own weight-proportional
    * sample. One shuffle keyed on the stratum; at 100 TB pre-thin
    * each stratum exactly as [[stratifiedSample]] documents. Weights
    * <= 0 are excluded. */
  def weightedStratifiedSample(docs: DataFrame, stratum: Column,
                               id: Column, weight: Column,
                               n: Int): DataFrame = {
    require(n >= 1, "n must be >= 1")
    val u = (pmod(Dedup.md5Long60(id.cast("string")), lit(1000000L))
      .cast("double") + lit(0.5)) / lit(1000000.0)
    val w = Window.partitionBy(stratum)
      .orderBy(col("priority_nano").desc, id)
    docs.filter(weight > 0)
      .withColumn("priority_nano",
        round(pow(u, lit(1.0) / weight.cast("double")) * 1e9)
          .cast("long"))
      .withColumn("sample_rank", row_number().over(w))
      .filter(col("sample_rank") <= n)
  }

  /** Deterministic global training order: the portable hash is the sort
    * key, so the "shuffled" order is reproducible run-to-run and
    * engine-to-engine. For a full-corpus write, range-partition on the
    * hash then sort within partitions — a total order across output
    * files without a single-reducer global sort. */
  def trainOrder(docs: DataFrame, id: Column,
                 partitions: Int = 200): DataFrame = {
    val keyed = docs.withColumn("order_key",
      Dedup.md5Long60(id.cast("string")))
    keyed.repartitionByRange(partitions, col("order_key"), id)
      .sortWithinPartitions(col("order_key"), id)
  }

  /** Proportional stride-scheduled mixture order: a deterministic
    * global training order in which each `sourceCol` group appears
    * INTERLEAVED in proportion to its size (the classic stride /
    * virtual-time schedule — source s's r-th document runs at
    * vt = r/w_s, so a 10× larger source fires 10× as often, and no
    * prefix of the schedule over- or under-samples any source beyond
    * one document). The practical mixture guarantee d20's report only
    * measures: every training prefix IS the corpus mixture.
    *
    * Within a source, documents order by the portable md5 hash
    * (trainOrder's engine-independent shuffle), so the schedule is
    * reproducible anywhere. vt quantizes to integer micro-units by
    * floor division — no float tie ambiguity between engines — with
    * (vt_micro, source, id) a total order.
    *
    * Shape at scale: the per-source rank is
    * [[graft.ops.DistributedRank.bucketedRank]] (grouped by source —
    * parallel range-bucketed sorts) and the source sizes ride its
    * `_grp_n` for free; the fold to vt is map-side. Consumers write
    * with repartitionByRange(vt_micro, ...) for a total order across
    * output files. */
  def strideMixtureOrder(docs: DataFrame, idCol: String,
                         sourceCol: String): DataFrame = {
    val keyed = docs.withColumn("_h",
      Dedup.md5Long60(col(idCol).cast("string")))
    val ranked = graft.ops.DistributedRank.bucketedRank(
      keyed, sourceCol, "_h", Seq(idCol), out = "_rs")
    ranked
      .withColumn("vt_micro", expr("(_rs * 1000000) div _grp_n"))
      .drop("_h", "_grp_n")
  }

  /** Weight-balanced serpentine sharding for training-data export:
    * every row gets a `shard` in [0, nShards) such that per-shard
    * total `weight` (token counts, byte sizes) is near-equal — the
    * standard boustrophedon schedule: rank rows by (weight desc, id
    * asc), then fold rank−1 mod 2N so consecutive heavy rows land on
    * DIFFERENT shards and each N-sized half-cycle reverses direction
    * (shard s takes the s-th and (2N−1−s)-th of every 2N-block, so
    * every block contributes its heaviest and lightest ends evenly).
    * Deterministic — the assignment replays bit-for-bit anywhere.
    *
    * Shape at scale: the global rank is [[graft.ops.DistributedRank
    * .bucketedRank]] — range-bucketed parallel sorts, never one
    * row_number window over the corpus — and the fold is a map-side
    * expression. Returns the rows with (shard, weight rank) appended;
    * [[serpentineShardReport]] folds them to per-shard totals. */
  def serpentineShards(docs: DataFrame, idCol: String, weight: Column,
                       nShards: Int): DataFrame = {
    require(nShards >= 1, "nShards must be >= 1")
    val cycle = 2L * nShards
    // the single-group key must stay attribute-DEPENDENT (pmod of a
    // real column, constantly 0): a literal group would constant-fold
    // the rank's stats equi-join to `true` and plan the banned
    // BroadcastNestedLoopJoin
    val ranked = graft.ops.DistributedRank.bucketedRank(
      docs.withColumn("_w", weight.cast("long"))
        .withColumn("_negw", -col("_w"))
        .withColumn("_g", pmod(col("_w"), lit(1L))),
      "_g", "_negw", Seq(idCol), out = "_rn")
    val s = pmod(col("_rn") - 1, lit(cycle))
    ranked
      .withColumn("shard",
        when(s < nShards, s).otherwise(lit(cycle - 1) - s))
      .drop("_negw", "_g", "_grp_n")
  }

  /** Per-shard balance report over a [[serpentineShards]] assignment:
    * (shard, n_docs, total_weight), one map-side-combining groupBy. */
  def serpentineShardReport(assigned: DataFrame): DataFrame =
    assigned.groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("_w")).as("total_weight"))

  /** [[packSequences]] run INSIDE a [[serpentineShards]] assignment —
    * the export tail of a pretraining pipeline: balance shards by
    * token weight, then pack each shard's documents back-to-back (id
    * order) into seqTokens-sized training sequences. Reports, per
    * shard, the doc count, the token total, and the number of
    * distinct sequences that HOST a document start (each doc's first
    * token offset ÷ seqTokens — the d22 placement key, so the pack
    * stage genuinely replays instead of degenerating to
    * ceil(total/seqTokens)). One window per shard partition plus one
    * map-side-combining groupBy; the pack never leaves its shard's
    * partition, so the cumulative sum parallelizes across shards at
    * any corpus size. Returns (shard, n_docs, total_tokens,
    * n_start_seqs). */
  def packedShardReport(perDoc: DataFrame, idCol: String,
                        weight: Column, nShards: Int,
                        seqTokens: Int): DataFrame = {
    require(seqTokens >= 1, "seqTokens >= 1")
    val w = Window.partitionBy("shard").orderBy(idCol)
    serpentineShards(perDoc, idCol, weight, nShards)
      .withColumn("_start", sum(col("_w")).over(w) - col("_w"))
      .groupBy("shard")
      // integer floor division, not floor(double /): a shard offset
      // past 2^53 tokens would land double division on the wrong
      // sequence index; `div` is exact at any scale and matches the
      // oracle's `//` (round-11 review)
      .agg(count(lit(1)).as("n_docs"),
        sum(col("_w")).as("total_tokens"),
        countDistinct(expr(s"_start div $seqTokens"))
          .as("n_start_seqs"))
  }

  /** Effective dataset size after near-dup discounting — per group,
    * each document contributes tokens/cluster_size ("a 10-clique of
    * near-identical docs carries ONE doc's worth of information"), the
    * standard unique-information mass a mixture planner budgets
    * against instead of raw token counts. Composes over a PRECOMPUTED
    * (id, component) assignment ([[graft.pipeline.DedupArtifacts]]):
    * docs absent from the assignment are singletons (divisor 1).
    *
    * The per-doc discount is micro-quantized BEFORE the sum
    * (round(tokens·1e6/cluster_size) as a long — the d28/e13 integer
    * discipline), so the group totals are summation-order-free and
    * engine-exact. Scale shape: token counts project ahead of the
    * join, so only (id, group, n_tokens) rows meet the pair-sized
    * assignment on the shuffle — document text never crosses an
    * Exchange — and both aggregations combine map-side.
    *
    * Returns (group, n_docs, raw_tokens, effective_tokens_micro). */
  def effectiveTokenMass(docs: DataFrame, idCol: String, textCol: String,
                         groupCol: String,
                         components: DataFrame): DataFrame = {
    val sizes = components
      .groupBy("component").agg(count(lit(1)).as("_cs"))
    val assign = components.join(sizes, "component")
      .select(col("id"), col("_cs"))
    docs.select(col(idCol).as("id"),
        col(groupCol).as("_grp"),
        graft.pipeline.TextStats.tokenCount(col(textCol)).as("_nt"))
      .join(assign, Seq("id"), "left")
      .select(col("_grp"), col("_nt"),
        round(col("_nt").cast("double") * lit(1e6) /
          coalesce(col("_cs"), lit(1L)).cast("double"))
          .cast("long").as("_eff"))
      .groupBy(col("_grp").as(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("_nt")).as("raw_tokens"),
        sum(col("_eff")).as("effective_tokens_micro"))
  }
}
