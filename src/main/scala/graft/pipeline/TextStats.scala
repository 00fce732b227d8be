package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline:
  * token counting, quality scoring, language identification,
  * fingerprinting. All pure column expressions (no UDFs): fully
  * parallel per-row map work — no shuffle, no state — so the operators
  * scale linearly with input splits at 100 TB.
  */
object TextStats {

  /** Whitespace tokenizer. */
  def tokens(text: Column): Column = split(text, " ")

  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")
  def distinctTokenCount(text: Column): Column =
    size(array_distinct(tokens(text))).cast("long")

  /** Total characters in tokens (excludes separators). */
  def tokenChars(text: Column): Column =
    aggregate(transform(tokens(text), t => length(t)),
      lit(0), (acc, x) => acc + x).cast("long")

  /** Type-token ratio — crude lexical-diversity / repetition signal. */
  def typeTokenRatio(text: Column): Column =
    size(array_distinct(tokens(text))).cast("double") / size(tokens(text))

  /** Shannon entropy of the in-document token distribution, in
    * integer micro-nats: −Σ_t round(1e6 · p_t · ln p_t) over the
    * distinct tokens t with in-doc probability p_t. The information-
    * theoretic repetition/quality signal: a looping boilerplate page
    * scores far below natural text of the same length, and unlike
    * [[typeTokenRatio]] it weighs HOW the repetition mass is
    * distributed, not just the distinct count.
    *
    * Engine-reproducible by the d28 discipline: each distinct token's
    * contribution is quantized to an integer BEFORE the sum, so
    * aggregation order (array fold here, a groupBy in a SQL oracle)
    * cannot change the result, and ln()'s last-ulp spread (|term| ≤
    * 0.37e6, abs error ~1e-10) sits far from rounding boundaries.
    *
    * Pure per-row expression — map-only at any scale. Per-row cost is
    * O(distinct·tokens) from the count-within-array filter: fine for
    * document-shaped rows (tens-to-hundreds of tokens); for very long
    * documents route through the equivalent (doc, token) groupBy
    * aggregation instead (the d36 oracle's own shape). */
  def tokenEntropyMicro(text: Column): Column =
    ExprUtils.let(tokens(text)) { toks =>
      ExprUtils.let(size(toks).cast("double")) { n =>
        -aggregate(
          transform(array_distinct(toks), t =>
            ExprUtils.let(
              size(filter(toks, x => x === t)).cast("double") / n) { p =>
              round(lit(1e6) * p * log(p)).cast("long")
            }),
          lit(0L), (acc, x) => acc + x)
      }
    }

  /** Native-expression form of [[tokenEntropyMicro]]
    * (graft.functions.TokenEntropyMicro): the same bits from a
    * one-pass codegen'd hash-count kernel — O(tokens) per row instead
    * of the declarative fold's O(distinct·tokens) — for the hot path;
    * the declarative twin remains the oracle-portability reference
    * (differential-tested equal in TextStatsSpec). */
  def tokenEntropyMicroNative(text: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.functions.TokenEntropyMicro(
        org.apache.spark.sql.GraftBridge.expression(tokens(text))))

  /** Small per-language stopword profiles for the n-gram/stopword
    * language-ID heuristic. */
  val StopwordsEn: Seq[String] = Seq("the", "a", "an", "and", "of", "to", "in", "is")
  val StopwordsEs: Seq[String] = Seq("el", "la", "los", "de", "y", "en", "es", "un")
  val StopwordsFr: Seq[String] = Seq("le", "la", "les", "et", "de", "un", "une", "est")
  val StopwordsDe: Seq[String] = Seq("der", "die", "das", "und", "ein", "ist", "zu", "von")

  def stopwordCount(text: Column, words: Seq[String]): Column =
    size(filter(tokens(text), t => t.isin(words.map(lit(_)): _*))).cast("long")

  /** Stopword ratio against the English profile — a standard quality
    * signal (too high ⇒ boilerplate, too low ⇒ non-text). */
  def stopwordRatio(text: Column): Column =
    stopwordCount(text, StopwordsEn).cast("double") / size(tokens(text))

  /** Language-ID heuristic: CJK character fraction first, then argmax
    * of per-language stopword hits with deterministic tie order
    * en > es > fr > de; no hits ⇒ "und". */
  def langId(text: Column): Column = {
    val cjk = length(regexp_replace(text, "[^\\u4e00-\\u9fff]", ""))
    val en = stopwordCount(text, StopwordsEn)
    val es = stopwordCount(text, StopwordsEs)
    val fr = stopwordCount(text, StopwordsFr)
    val de = stopwordCount(text, StopwordsDe)
    when(cjk * 3 > length(text), "zh")
      .when(en >= es && en >= fr && en >= de && en > 0, "en")
      .when(es >= fr && es >= de && es > 0, "es")
      .when(fr >= de && fr > 0, "fr")
      .when(de > 0, "de")
      .otherwise("und")
  }

  /** Aggregate quality gate in the C4/Gopher style: length bounds,
    * repetition bound, boilerplate bound. */
  def isQuality(text: Column): Column = {
    val n = size(tokens(text))
    n >= 10 && n <= 100000 &&
      typeTokenRatio(text) > lit(0.1) &&
      stopwordRatio(text) < lit(0.5)
  }

  /** PII scrubbing for training corpora: replace email addresses,
    * URLs, and long digit runs (phone/account numbers) with typed
    * placeholder tags. Patterns are deliberately RE2-compatible (no
    * backreferences/lookaround) so the same regexes run identically in
    * Java and RE2-based engines — oracle-checkable. Per-row map work
    * only; at 100 TB this is a pure scan stage. */
  val PiiEmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PiiUrlRe = "https?://[^ ]+"
  val PiiDigitsRe = "[0-9]{7,}"
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, PiiUrlRe, "<URL>"),
        PiiEmailRe, "<EMAIL>"),
      PiiDigitsRe, "<NUM>")

  /** Context-window chunking for training: split a document's tokens
    * into fixed-size windows with `overlap` tokens of lookback —
    * `(doc_id, chunk_id, chunk_text)` rows, the shape an LLM tokenizer
    * stage consumes. Pure per-row expressions feeding one `explode`;
    * no shuffle, parallel by input partition at any scale. Stride =
    * windowTokens - overlap; the last window keeps any remainder. */
  def chunkWindows(text: Column, windowTokens: Int,
                   overlap: Int): Column = {
    require(overlap >= 0 && overlap < windowTokens,
      "0 <= overlap < windowTokens")
    val stride = windowTokens - overlap
    ExprUtils.let(tokens(text)) { toks =>
      transform(
        sequence(lit(0),
          (greatest(size(toks) - lit(overlap) - 1, lit(0))
            / stride).cast("int")),
        i => struct(
          i.cast("long").as("chunk_id"),
          concat_ws(" ",
            slice(toks, i * stride + 1, lit(windowTokens)))
            .as("chunk_text")))
    }
  }

  /** RefinedWeb/Gopher-style intra-document repetition signal: the
    * fraction of n-gram OCCURRENCES that repeat an earlier occurrence
    * in the same document (1 − distinct/total). High values flag
    * boilerplate and lorem-style spam that per-corpus dedup never
    * sees. Pure per-row collection expressions — no shuffle, cost
    * O(tokens·n) per row. Docs shorter than n tokens yield one
    * (partial) gram → fraction 0. The value is a ratio of small ints
    * computed in double, so it is bit-identical cross-engine without
    * rounding. */
  def repeatedNgramFraction(text: Column, n: Int): Column = {
    require(n >= 1, "n must be >= 1")
    ExprUtils.let(tokens(text)) { toks =>
      ExprUtils.let(transform(
        sequence(lit(1), greatest(size(toks) - (n - 1), lit(1))),
        i => concat_ws(" ", slice(toks, i, lit(n))))) { grams =>
        lit(1.0) - size(array_distinct(grams)).cast("double") /
          size(grams)
      }
    }
  }

  /** Content fingerprints:
    *   - `docFingerprint`: md5 of the full text (exact-dup key);
    *   - `minTokenFingerprint`: minimum token md5 — a 1-permutation
    *     MinHash usable as a cheap near-dup prefilter. Both expressible
    *     in ANSI SQL for oracle checking; the scale path uses the
    *     k-permutation xxhash64 MinHash in [[Dedup]]. */
  /** Hashed word n-gram features of `text` — unigrams plus adjacent
    * "a_b" bigrams (the fastText feature map): each feature hashes
    * through the PORTABLE [[Dedup.md5Long60]] into `dim` buckets, so
    * an ANSI oracle re-derives every bucket id bit for bit. The
    * bigram zip is two slices zipped (no sequence() — a one-token
    * text yields zero bigrams, not a bogus index range). */
  def hashedNgramFeatures(text: Column, dim: Int): Column = {
    require(dim >= 2, "dim must be >= 2")
    ExprUtils.let(tokens(text)) { toks =>
      ExprUtils.let(concat(toks,
        zip_with(slice(toks, lit(1), size(toks) - 1),
          slice(toks, lit(2), size(toks) - 1),
          (a, b) => concat_ws("_", a, b)))) { feats =>
        transform(feats,
          f => pmod(Dedup.md5Long60(f), lit(dim.toLong)))
      }
    }
  }

  /** Learned-classifier INFERENCE as pure column arithmetic — the
    * fastText-style linear scorer that completes the quality stack
    * next to the d3 heuristics and the d28/d47 LM scores: hash the
    * word n-gram features ([[hashedNgramFeatures]]), dot a weight
    * vector held as a LITERAL array (micro-integer weights — the
    * model rides the task closure, broadcast by construction: a
    * model-sized constant, never a join, never a shuffle; inference
    * stays embarrassingly parallel map work at any corpus size), add
    * the bias. Returns the LOGIT in integer micros — integer-exact
    * cross-engine, the d28/q70 discipline: the sigmoid is monotone,
    * so thresholding/ranking on the logit IS thresholding/ranking on
    * the probability with zero transcendental drift; callers who want
    * the probability apply [[sigmoidMicro]] for display.
    *
    * Weight convention: `weightsMicro(j)` is the micro-unit weight of
    * feature bucket j, `j = md5Long60(feature) mod dim`; the SUM (not
    * mean) of feature weights — the mean's divisor is absorbable into
    * the weight scale, and integer division floors differently across
    * engines (Spark truncates, DuckDB floors) for negative logits. */
  def hashedLinearLogitMicro(text: Column, weightsMicro: IndexedSeq[Long],
                             biasMicro: Long): Column = {
    val w = array(weightsMicro.map(lit): _*)
    aggregate(hashedNgramFeatures(text, weightsMicro.length),
      lit(biasMicro),
      (acc, j) => acc + element_at(w, j.cast("int") + 1))
  }

  /** Display-side sigmoid of a micro logit, in micros (double exp —
    * NOT oracle-hashed; keep oracle comparisons on the logit). */
  def sigmoidMicro(logitMicro: Column): Column =
    round(lit(1e6) / (lit(1.0) + exp(-logitMicro.cast("double") / 1e6)))
      .cast("long")

  def docFingerprint(text: Column): Column = md5(text.cast("binary"))
  def minTokenFingerprint(text: Column): Column =
    array_min(transform(array_distinct(tokens(text)),
      t => md5(t.cast("binary"))))

  /** Corpus-unigram language-model quality score — the CCNet-style
    * perplexity filter with the corpus itself as the LM (no external
    * KenLM model exists in a hermetic pipeline; the corpus unigram
    * distribution is the standard bootstrap). Per document:
    * mean log10 p(token) where p(w) = count(w) / N over the whole
    * corpus. Low (very negative) scores flag gibberish / rare-token
    * spam; high scores flag stopword soup — both tails get cut by a
    * downstream band filter.
    *
    * Determinism across engines is engineered, not hoped for: every
    * floating-point quantity is quantized to an integer BEFORE any
    * aggregation, so no result depends on summation order.
    *   - per-token: ll_micro = round(1e6 · log10 count(w)) as LONG;
    *   - per-doc:   sum_ll_micro = Σ ll_micro (exact integer sum);
    *   - score_micro = trunc((sum_ll_micro − ntok·ll_n_micro)/ntok)
    *     — 1e-6-units of mean log10 p(w), derived from exact integers
    *     by one IEEE division both engines evaluate identically.
    *
    * Shape at 100 TB: explode is map-only; the token-frequency
    * aggregation combines map-side (vocab ≪ corpus); the join back is
    * a shuffle co-partitioned on the token key (NO broadcast — a web
    * vocab is tens of GB; stopword keys are hot, which AQE skew-split
    * absorbs); the 1-row corpus total rides a broadcast join on a
    * constant key. Two shuffles total, both on keys the plan already
    * needs. */
  def unigramLogProb(docsIn: DataFrame, idCol: String,
                     textCol: String): DataFrame = {
    // spread BEFORE the tokenize explode (r14, guide §2.5): a
    // single-row-group input runs the whole corpus tokenization as
    // one task otherwise
    val docs = ExprUtils.spread(docsIn)
    val toks = docs.select(col(idCol).as("id"),
      explode(tokens(col(textCol))).as("tok"))
    val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
    val perDoc = toks.join(dfreq, "tok")
      .groupBy("id").agg(
        count(lit(1)).as("ntok"),
        sum(round(log10(col("cnt")) * lit(1e6)).cast("long"))
          .as("sum_ll_micro"))
    // 1-row corpus total N = Σ size(tokens) straight off the docs
    // scan — identical to Σ cnt over the vocab, but needs no explode
    // and no vocab shuffle: one projected scan (text column only) and
    // a 1-row reduce, fetched driver-side (the repo's 1-row parameter
    // precedent, AnalyzeQuery's metrics frame) and folded in as a
    // literal. A constant-key join here folds to `true` and Catalyst
    // plans a BroadcastNestedLoopJoin — banned by PlanDisciplineSpec —
    // so the literal keeps the final plan aggregate + project only.
    val nTotal = docs.agg(
        sum(size(tokens(col(textCol))).cast("long")).as("n_total"))
      .head().getLong(0)
    require(nTotal > 0, "empty corpus: no tokens to model")
    val llNMicro = math.round(1e6 * math.log10(nTotal.toDouble))
    perDoc.select(col("id"), col("ntok"), col("sum_ll_micro"),
      ((col("sum_ll_micro") - col("ntok") * lit(llNMicro))
        .cast("double") / col("ntok")).cast("long").as("score_micro"))
  }

  /** Interpolated BIGRAM language-model score per doc — the
    * next-order fluency signal [[unigramLogProb]] can't see (unigrams
    * score shuffled text identically; bigrams collapse on it):
    * per-doc mean of log10(0.75·c2(w1 w2)/c1(w1) + 0.25·c1(w2)/N)
    * over the doc's consecutive token pairs, against corpus-level
    * counts. The fixed 0.75/0.25 interpolation keeps every scored
    * bigram's probability positive (its own occurrence is in c2) with
    * the unigram term as the smoothing floor — the Jelinek-Mercer
    * shape with a pinned λ so both engines replay it exactly.
    *
    * Output (id, nbg, sum_ll_micro, score_micro): per-bigram terms
    * quantize to integer micro before the sum (d28 discipline —
    * order-independent, hash-exact); score = sum/nbg truncated toward
    * zero (d28's convention). Docs with fewer than 2 tokens have no
    * bigrams and are absent — the caller left-joins if it needs them.
    *
    * Shape at scale: bigram/unigram counts shuffle co-partitioned on
    * their OWN keys (no broadcast — a web-corpus bigram table is
    * far beyond driver memory; hot stopword bigrams are AQE
    * skew-split, the d27 contract); the corpus total N is the 1-row
    * parameter fetched driver-side and folded in as a literal (a
    * constant-key join would fold to `true` → banned BNLJ). */
  def bigramLogProb(docsIn: DataFrame, idCol: String,
                    textCol: String): DataFrame = {
    // spread BEFORE the tokenize/bigram explodes (r14, guide §2.5)
    val docs = ExprUtils.spread(docsIn)
    val toks = docs.select(col(idCol).as("id"),
      explode(tokens(col(textCol))).as("tok"))
    val uni = toks.groupBy("tok").agg(count(lit(1)).as("c1"))
    val bi = docs.select(col(idCol).as("id"),
      explode(Curation.wordNgrams(col(textCol), 2)).as("bg"))
    val bfreq = bi.groupBy("bg").agg(count(lit(1)).as("c2"))
    val nTotal = docs.agg(
        sum(size(tokens(col(textCol))).cast("long")).as("n_total"))
      .head().getLong(0)
    require(nTotal > 0, "empty corpus: no tokens to model")
    val w1 = element_at(split(col("bg"), " "), 1)
    val w2 = element_at(split(col("bg"), " "), 2)
    val u1 = uni.select(col("tok").as("_w1"), col("c1").as("c1a"))
    val u2 = uni.select(col("tok").as("_w2"), col("c1").as("c1b"))
    // term expression mirrors the oracle's literal shape exactly:
    // (0.75·c2)/c1(w1) + (0.25·c1(w2))/N — same IEEE op order
    val p = lit(0.75) * col("c2") / col("c1a") +
      lit(0.25) * col("c1b") / lit(nTotal.toDouble)
    bi.withColumn("_w1", w1).withColumn("_w2", w2)
      .join(bfreq, "bg")
      .join(u1, "_w1")
      .join(u2, "_w2")
      .groupBy("id").agg(
        count(lit(1)).as("nbg"),
        sum(round(log10(p) * lit(1e6)).cast("long")).as("sum_ll_micro"))
      .select(col("id"), col("nbg"), col("sum_ll_micro"),
        (col("sum_ll_micro").cast("double") / col("nbg")).cast("long")
          .as("score_micro"))
  }

  /** HOLDOUT form of [[bigramLogProb]] — the LM evaluation loop: the
    * interpolated bigram model (counts, vocabulary, total) comes from
    * `train` ONLY and scores the `score` docs, the d59 discipline
    * applied to the d47 LM. Unseen events need defined probabilities,
    * so the holdout form smooths where the self-scoring form could
    * not hit zero: the bigram term is guarded in-branch (a w1 never
    * seen in training contributes 0 from the bigram side), and the
    * unigram back-off is add-1 over the train vocabulary,
    * 0.25·(c1(w2)+1)/(N+V) — strictly positive, so every holdout
    * bigram has a finite log term. Per-term micro rounding before the
    * per-doc sum (d28/d47 discipline: order-free, hash-exact); the
    * report adds n_unseen (bigrams absent from the train model — the
    * held-out OOV mass a perplexity audit wants next to the score).
    *
    * Shape at scale: model tables are (vocab, bigram-vocab)-sized
    * aggregations with map-side combine; (N, V) is a 2-scalar bounded
    * parameter fetch; scoring is the holdout's bigram explode LEFT-
    * joined to the model tables on near-unique keys. Returns
    * (id, nbg, n_unseen, sum_ll_micro, score_micro) — single-word
    * docs carry no bigram and drop, exactly as in [[bigramLogProb]]. */
  def bigramHoldoutLogProb(train: DataFrame, score: DataFrame,
                           idCol: String, textCol: String): DataFrame = {
    val uni = train.select(explode(tokens(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c1"))
    val bfreq = train
      .select(explode(Curation.wordNgrams(col(textCol), 2)).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c2"))
    val nv = uni.agg(coalesce(sum(col("c1")), lit(0L)).as("n"),
      count(lit(1)).as("v")).head()
    val nTotal = nv.getLong(0)
    val vocab = nv.getLong(1)
    require(nTotal > 0, "empty train corpus: no tokens to model")
    val bi = score.select(col(idCol).as("id"),
      explode(Curation.wordNgrams(col(textCol), 2)).as("bg"))
    val u1 = uni.select(col("tok").as("_w1"), col("c1").as("c1a"))
    val u2 = uni.select(col("tok").as("_w2"), col("c1").as("c1b"))
    val p = when(col("c1a") > 0,
        lit(0.75) * coalesce(col("c2"), lit(0L)) / col("c1a"))
        .otherwise(lit(0.0)) +
      lit(0.25) * (coalesce(col("c1b"), lit(0L)) + lit(1L)) /
        lit((nTotal + vocab).toDouble)
    bi.withColumn("_w1", element_at(split(col("bg"), " "), 1))
      .withColumn("_w2", element_at(split(col("bg"), " "), 2))
      .join(bfreq, Seq("bg"), "left")
      .join(u1, Seq("_w1"), "left")
      .join(u2, Seq("_w2"), "left")
      .groupBy("id").agg(
        count(lit(1)).as("nbg"),
        count(when(col("c2").isNull, 1)).as("n_unseen"),
        sum(round(log10(p) * lit(1e6)).cast("long"))
          .as("sum_ll_micro"))
      .select(col("id"), col("nbg"), col("n_unseen"),
        col("sum_ll_micro"),
        (col("sum_ll_micro").cast("double") / col("nbg")).cast("long")
          .as("score_micro"))
  }

  /** Top-k bigram collocations by pointwise mutual information
    * (Church & Hanks, CL 1990) with a minimum-support floor — the
    * corpus-analysis pass that surfaces multi-word units ("los
    * angeles", "prime minister") a tokenizer or a template detector
    * should treat as one: PMI = ln(p(w1 w2) / (p(w1)·p(w2))), high
    * when the pair co-occurs far above the independence rate.
    *
    * PMI_micro = round(1e6 · ln((c2·Nt·Nt) / (Nb·c1(w1)·c1(w2))))
    * with every factor cast to double BEFORE multiplying (the
    * products overflow longs at corpus scale; double products in a
    * fixed literal order are IEEE-deterministic and the oracle
    * mirrors the expression shape exactly — one ln, one round). The
    * support floor is applied to the bigram-count frame BEFORE the
    * unigram joins: hapax pairs both dominate raw PMI (its known
    * pathology) and dominate the bigram tail's volume (Zipf), so the
    * filter is simultaneously the statistical fix and the candidate
    * bound — the joins only ever see the surviving head.
    *
    * Shape at scale: two explodes (map-only) into map-side-combining
    * counts; Nt/Nb ride one 1-row parameter fetch folded in as
    * literals (a constant-key join would plan the banned BNLJ); the
    * two unigram joins co-partition on token keys; the output is a
    * TakeOrdered top-k, never a global sort. Returns
    * (bigram, pair_count, w1_count, w2_count, pmi_micro). */
  def pmiCollocations(docs: DataFrame, idCol: String, textCol: String,
                      minCount: Long, k: Int): DataFrame = {
    require(minCount >= 1, "minCount must be >= 1")
    require(k >= 1, "k must be >= 1")
    val toks = docs.select(explode(tokens(col(textCol))).as("tok"))
    val uni = toks.groupBy("tok").agg(count(lit(1)).as("c1"))
    val bfreq = docs
      .select(explode(Curation.wordNgrams(col(textCol), 2)).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c2"))
      .filter(col("c2") >= minCount)
    val totals = docs.agg(
        sum(size(tokens(col(textCol))).cast("long")).as("nt"),
        sum(greatest(size(tokens(col(textCol))) - 1, lit(0))
          .cast("long")).as("nb"))
      .head()
    val (nt, nb) = (totals.getLong(0), totals.getLong(1))
    require(nb > 0, "empty corpus: no bigrams to score")
    val pmi = round(lit(1e6) * log(
      (col("c2").cast("double") * lit(nt.toDouble) * lit(nt.toDouble)) /
        (lit(nb.toDouble) * col("c1a").cast("double") *
          col("c1b").cast("double")))).cast("long")
    bfreq
      .withColumn("_w1", element_at(split(col("bg"), " "), 1))
      .withColumn("_w2", element_at(split(col("bg"), " "), 2))
      .join(uni.select(col("tok").as("_w1"), col("c1").as("c1a")), "_w1")
      .join(uni.select(col("tok").as("_w2"), col("c1").as("c1b")), "_w2")
      .select(col("bg").as("bigram"), col("c2").as("pair_count"),
        col("c1a").as("w1_count"), col("c1b").as("w2_count"),
        pmi.as("pmi_micro"))
      .orderBy(col("pmi_micro").desc, col("bigram").asc)
      .limit(k)
  }

  /** Exact Gini coefficient of the corpus TOKEN-MASS distribution —
    * the one-number concentration report (0 = every doc the same
    * length, → 1 = a few giant docs carry all the mass) that drives
    * chunking and sampling policy: a high-Gini corpus needs d12-style
    * window chunking before d17 sampling or the sample is dominated
    * by whales. Gini = Σ_i (2·r_i − n − 1)·x_i / (n·Σx) over
    * ascending ranks r_i.
    *
    * Ranks come from [[graft.ops.DistributedRank.bucketedRank]] (no
    * full-partition window sort — the q17 machinery on a constant
    * group), tie-broken by doc id; the numerator is tie-order
    * INVARIANT anyway (equal x share Σr over any permutation of
    * consecutive ranks), which is why the oracle's plain
    * (x, doc_id)-ordered row_number replays it exactly. The numerator
    * accumulates in exact decimal(38,0) (it is ≥ 0 by the rearranged
    * sorting, so floor division is truncation cross-engine); output
    * is integer micro. Returns (n_docs, total_tokens, gini_micro);
    * gini NULL on an empty or zero-mass corpus. */
  def tokenMassGini(docs: DataFrame, idCol: String,
                    textCol: String): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val d = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("_id"), tokenCount(col(textCol)).as("x"))
      // ATTRIBUTE-DEPENDENT constant key (always 0): a lit(0) key
      // folds the bucketedRank stats equi-join to `true` and Catalyst
      // plans the banned BroadcastNestedLoopJoin (the ksMicro `_one`
      // rule; caught by PlanDisciplineSpec's whole-catalog sweep)
      .withColumn("_g", pmod(col("x"), lit(1L)))
    val ranked = graft.ops.DistributedRank.bucketedRank(
      d, "_g", "x", tieCols = Seq("_id"), out = "_r")
    ranked.agg(
        count(lit(1)).as("n_docs"),
        coalesce(sum(col("x")), lit(0L)).as("total_tokens"),
        coalesce(sum(dec(lit(2L) * col("_r") - col("_grp_n") - 1L) *
          dec(col("x"))), lit(0L).cast("decimal(38,0)")).as("num"))
      .select(col("n_docs"), col("total_tokens"),
        when(col("n_docs") > 0 && col("total_tokens") > 0,
          expr("(1000000 * num) div " +
            "(cast(n_docs as decimal(38,0)) * total_tokens)"))
          .as("gini_micro"))
  }

  /** Theil T inequality index of the corpus token-mass distribution —
    * [[tokenMassGini]]'s entropy-family companion (Theil 1967):
    * T = (1/n)·Σ (x/μ)·ln(x/μ). Where Gini weighs rank positions,
    * Theil weighs RATIOS — it is additively decomposable across
    * subgroups, which is why mixture dashboards (d20) trend it per
    * source. T = 0 means every document carries equal token mass;
    * ln(n) is the one-whale maximum.
    *
    * Exactness: n and S are one bounded parameter fetch; each
    * document's term (x·n/S)·ln(x·n/S) is a mirrored per-row double
    * over exact integers, quantized to micro BEFORE the sum (the d28
    * discipline — ln lands per row, never accumulated as floats), and
    * the final /n is one mirrored round-division. Zero-token docs are
    * excluded (ln undefined; also excluded from the mass). Returns
    * one row (n_docs, total_tokens, theil_micro). */
  def tokenMassTheil(docs: DataFrame, idCol: String,
                     textCol: String): DataFrame = {
    val d = docs.filter(col(textCol).isNotNull)
      .select(tokenCount(col(textCol)).as("x"))
      .filter(col("x") > 0)
    // 1-row bounded parameter fetch: doc count + total mass
    val row = d.agg(count(lit(1)),
      coalesce(sum(col("x")), lit(0L))).head()
    val n = row.getLong(0)
    val sTot = row.getLong(1)
    val ratio = col("x").cast("double") * lit(n.toDouble) /
      lit(sTot.toDouble)
    val term = round(lit(1e6) * ratio * log(ratio)).cast("long")
    val out = d.agg(coalesce(sum(term), lit(0L)).as("tsum"))
      .select(lit(n).as("n_docs"), lit(sTot).as("total_tokens"),
        (if (n > 0)
          round(col("tsum").cast("double") / lit(n.toDouble))
            .cast("long")
        else lit(null).cast("long")).as("theil_micro"))
    // empty corpus: mirror the oracle's empty GROUP BY (round-11
    // review — the n=0 report row exists in neither engine)
    if (n == 0) out.limit(0) else out
  }

  /** Theil decomposition BY GROUP — the property that makes Theil the
    * mixture dashboard's inequality index ([[tokenMassTheil]]):
    * T = T_between + T_within exactly, where T_between measures
    * source-level mass imbalance (is one source hogging tokens
    * relative to its doc share) and T_within the inside-source
    * inequality. Gini cannot decompose this way.
    *
    * Exactness: per-row within terms (x/S)·ln(x·n_g/S_g) and
    * per-group between terms (S_g/S)·ln(S_g·n/(S·n_g)) are mirrored
    * doubles over exact integers, micro-quantized BEFORE their sums
    * (the d28 discipline); n/S are a 1-row bounded parameter fetch
    * and the ≤k-row group frame broadcasts back. The reported total
    * is computed DIRECTLY (same per-row form with the global mean),
    * so the additive identity is checkable to per-term rounding
    * slack — the spec pins |total − between − within| ≤ (rows+k)
    * micro. Returns one row (n_docs, total_tokens, k_groups,
    * theil_micro, between_micro, within_micro). */
  def tokenMassTheilDecomposition(docs: DataFrame, idCol: String,
                                  textCol: String,
                                  groupCol: String): DataFrame = {
    val d = docs
      .filter(col(textCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).cast("string").as("g"),
        tokenCount(col(textCol)).as("x"))
      .filter(col("x") > 0)
    // 1-row bounded parameter fetch: global doc count + mass
    val row = d.agg(count(lit(1)),
      coalesce(sum(col("x")), lit(0L))).head()
    val n = row.getLong(0)
    val sTot = row.getLong(1)
    // pinned: the k-row group frame feeds the between sum, the group
    // count AND the broadcast join — un-pinned its corpus-scan
    // lineage executes once per consumer (the g8 fork lesson)
    val grp = d.groupBy("g").agg(count(lit(1)).as("ng"),
      sum(col("x")).as("sg")).localCheckpoint()
    val xD = col("x").cast("double")
    val withinTerm = round(lit(1e6) * (xD / lit(sTot.toDouble)) *
      log(xD * col("ng").cast("double") / col("sg").cast("double")))
      .cast("long")
    val totalTerm = round(lit(1e6) * (xD / lit(sTot.toDouble)) *
      log(xD * lit(n.toDouble) / lit(sTot.toDouble))).cast("long")
    val betweenTerm = round(lit(1e6) *
      (col("sg").cast("double") / lit(sTot.toDouble)) *
      log(col("sg").cast("double") * lit(n.toDouble) /
        (lit(sTot.toDouble) * col("ng").cast("double")))).cast("long")
    // 1-row bounded fetch: the k-term between sum
    val between =
      if (n == 0) 0L
      else grp.agg(coalesce(sum(betweenTerm), lit(0L))).head().getLong(0)
    val kGroups =
      if (n == 0) 0L else grp.count()
    val out = d.join(broadcast(grp), "g")
      .agg(coalesce(sum(totalTerm), lit(0L)).as("tot"),
        coalesce(sum(withinTerm), lit(0L)).as("win"))
      .select(lit(n).as("n_docs"), lit(sTot).as("total_tokens"),
        lit(kGroups).as("k_groups"),
        col("tot").as("theil_micro"),
        lit(between).as("between_micro"),
        col("win").as("within_micro"))
    // empty corpus: mirror the oracle's empty GROUP BY (round-11
    // review)
    if (n == 0) out.limit(0) else out
  }
}
