package graft

import graft.ops.{EventOps => E, SyntheticEvents => SE}
import graft.pipeline.{Curation, Dedup, Multimodal, Retrieval, Similarity, TextStats}
import graft.queries.{AnalyzeQuery, ExportMissesQuery}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract: one `queries` entry per implemented operator from
  * SURVEY.md §2 (plus the driver-mandated LLM-pipeline operators), each
  * with a DuckDB-equivalent `oracleSql` where SQL-expressible.
  *
  * Verification discipline shared by every entry:
  *   - row-returning queries end in a deterministic total order
  *     (unique tie-break key) + LIMIT → top-k (`TakeOrderedAndProject`),
  *     which is also the scale-correct shape (never an unbounded global
  *     sort);
  *   - double aggregates whose value depends on summation order are
  *     ROUND-ed to 6 digits on both sides; money sums go through exact
  *     DECIMAL so Spark and DuckDB agree bit-for-bit;
  *   - integer-ish outputs are cast to BIGINT on both sides (DuckDB's
  *     smaller int types would otherwise mismatch the schema).
  */
object SparkEntry {

  private val rk = col("selected_candidate_rank")

  // ---- sources ---------------------------------------------------------
  // `ts` arrives as long nanoseconds (see SyntheticEvents.readEventsTable)
  private def rawEvents(s: SparkSession, dir: String): DataFrame =
    SE.readEventsTable(s, dir)
  private def events(s: SparkSession, dir: String): DataFrame =
    SE.load(s, dir)
  private def commits(s: SparkSession, dir: String): DataFrame =
    SE.commits(s, dir)
  private def lineitem(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/lineitem.parquet")
  private def table(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** The dedup-report family's shared state: verified near-dup pairs +
    * connected components over `documents` at threshold 0.3, staged
    * ONCE per (application, sfDir) and consumed by the d40/d42/d43/d44
    * report entries — the production API shape (compute the pair set
    * per corpus snapshot, compose reports over the staging table), not
    * "recompute the pair pipeline per report". d15 (the pair pipeline)
    * and d23 (the contraction) stay standalone: they ARE the reference
    * timings for the stages being staged. Every consumer's ORACLE
    * still replays the full SQL pipeline standalone, so staging
    * changes cost, never answers. */
  private def dedupArtifacts(s: SparkSession, dir: String)
      : graft.pipeline.DedupArtifacts =
    Staged(s, "dedup|documents|0.3", dir)(
      graft.pipeline.DedupArtifacts.buildPinned(
        table(s, dir, "documents"), "doc_id", "text", threshold = 0.3))

  /** The anisotropy audit's shared state: the e17 upper-triangle
    * covariance matrix over `embeddings`, staged ONCE per
    * (application, sfDir) and consumed by BOTH the e17 report and
    * e18's power iteration — the winnowKeys discipline (a production
    * run materializes the co-moment pass once per snapshot; every
    * spectral question reads the staging table). Both oracles keep
    * their full standalone SQL replays. */
  private def covarianceStaged(s: SparkSession, dir: String): DataFrame =
    Staged(s, "covariance", dir)(
      Similarity.covarianceMicro(table(s, dir, "embeddings"),
        "vec_id", "embedding").localCheckpoint())

  /** The winnowing family's shared state: the (doc, fingerprint-key)
    * frame over `documents` at (k=4, w=5), staged ONCE per
    * (application, sfDir) and consumed by the d65 summary and d66
    * pair-matching entries — fingerprints are a per-document function,
    * so the staging table IS the standing MOSS index a production run
    * maintains (the [[dedupArtifacts]] discipline; round-11 review:
    * d65/d66 each recomputed the corpus fingerprint scan). d68 keeps
    * computing its OWN three batch key-frames — the append-only
    * replay equivalence is the thing it tests. */
  private def winnowKeysStaged(s: SparkSession, dir: String): DataFrame =
    Staged(s, "winnowKeys", dir)(
      Dedup.winnowKeys(table(s, dir, "documents"), "doc_id", "text",
        k = 4, w = 5).localCheckpoint())

  /** DSIR's trained artifact, staged ONCE per (application, sfDir):
    * the 1024-bucket hashed-bigram log-ratio table between the
    * English subset (the target distribution) and the whole corpus —
    * consumed by BOTH the d75 ratio report and d76's per-document
    * scoring (a production run trains the ratio table once per
    * target; every selection pass reads it). */
  private def dsirRatiosStaged(s: SparkSession, dir: String): DataFrame =
    Staged(s, "dsirRatios", dir) {
      val docs = table(s, dir, "documents")
      Curation.dsirLogRatios(docs.filter(col("lang") === "en"),
        docs, "text", buckets = 1024).localCheckpoint()
    }

  /** d75/d76's shared oracle prefix: the DSIR bigram bucketing, the
    * two bucket distributions (target = lang 'en', raw = all), and
    * the smoothed per-bucket log ratio — operand order mirrored
    * token for token with [[graft.pipeline.Curation.dsirLogRatios]]
    * (ONE ln per bucket over identical doubles, the g6 aa_micro
    * precedent, quantized to micro immediately). */
  private lazy val duckDsirCtes: String =
    s"""dtk AS (SELECT doc_id, lang, str_split(text, ' ') AS toks
       |  FROM documents),
       |dbg AS (SELECT doc_id, lang,
       |    (${duckHash60("toks[gi] || ' ' || toks[gi+1]")}) % 1024
       |      AS b
       |  FROM dtk, unnest(generate_series(1, len(toks) - 1)) AS g(gi)
       |  WHERE len(toks) >= 2),
       |dtb AS (SELECT b, CAST(count(*) AS BIGINT) AS t_ct FROM dbg
       |  WHERE lang = 'en' GROUP BY b),
       |drb AS (SELECT b, CAST(count(*) AS BIGINT) AS r_ct FROM dbg
       |  GROUP BY b),
       |dtt AS (SELECT count(*) AS tn FROM dbg WHERE lang = 'en'),
       |drt AS (SELECT count(*) AS rn FROM dbg),
       |ddom AS (SELECT CAST(u.b AS BIGINT) AS b FROM
       |  (SELECT unnest(generate_series(0, 1023)) AS b) u),
       |drat AS (SELECT ddom.b,
       |    coalesce(t_ct, 0) AS t_ct, coalesce(r_ct, 0) AS r_ct,
       |    CAST(round(1e6 * ln(
       |      (CAST(coalesce(t_ct, 0) + 1 AS DOUBLE) / (tn + 1024))
       |      / (CAST(coalesce(r_ct, 0) + 1 AS DOUBLE) / (rn + 1024))))
       |      AS BIGINT) AS ratio_micro
       |  FROM ddom LEFT JOIN dtb USING (b) LEFT JOIN drb USING (b),
       |    dtt, drt)""".stripMargin

  /** d76/d78/llm_select_full's shared scoring CTE: per-document
    * DSIR importance score = the order-free integer-micro sum of its
    * bigram buckets' log ratios over [[duckDsirCtes]]'s drat. */
  private lazy val duckDsirDsc: String =
    """dsc AS (SELECT doc_id,
      |    CAST(count(*) AS BIGINT) AS n_grams,
      |    CAST(sum(ratio_micro) AS BIGINT) AS score_micro
      |  FROM dbg JOIN drat USING (b) GROUP BY doc_id)""".stripMargin

  /** d78/llm_select_full's shared Gumbel-key CTE: every document's
    * score joined back (gram-less docs keep (0,0)) plus the
    * deterministic Gumbel draw from the portable id hash — the
    * replayable key the top-k selection orders by. */
  private lazy val duckDsirDky: String =
    s"""dky AS (SELECT d.doc_id,
       |    coalesce(n_grams, 0) AS n_grams,
       |    coalesce(score_micro, 0) AS score_micro,
       |    CAST(round(1e6 * -ln(-ln(
       |      (CAST((${duckHash60("CAST(d.doc_id AS VARCHAR)")})
       |        % 1000000 AS DOUBLE) + 0.5) / 1e6)))
       |      AS BIGINT) AS gumbel_micro
       |  FROM documents d LEFT JOIN dsc USING (doc_id))""".stripMargin

  /** d77/d79's shared oracle prefix: the decontamination gram chain
    * (word 3-grams as RAW STRINGS — the d18 convention, and the
    * exact mirror of the Spark side's string-joined
    * Curation.contamination + string-distinct denominator: no hash
    * anywhere, so no collision caveat; r14 review replaced the
    * earlier hashed chain that was asymmetric with the string-joined
    * numerator); bench = the deterministic doc_id % 97 = 0 eval
    * slice; train = the rest; down to each train doc's distinct-gram
    * denominator (cng) and hit count (chit) — one chain so the
    * report entry and the stream-replay entry cannot drift. */
  private lazy val duckDecontamCtes: String =
    """ctk AS (SELECT doc_id, str_split(text, ' ')
      |    AS toks FROM documents),
      |cg AS (SELECT doc_id,
      |    toks[gi] || ' ' || toks[gi+1] || ' ' || toks[gi+2] AS gram
      |  FROM ctk,
      |    unnest(generate_series(1, len(toks) - 2)) AS g(gi)
      |  WHERE len(toks) >= 3),
      |cbg AS (SELECT DISTINCT gram FROM cg
      |  WHERE doc_id % 97 = 0),
      |ctg AS (SELECT DISTINCT doc_id, gram FROM cg
      |  WHERE doc_id % 97 <> 0),
      |cng AS (SELECT doc_id, CAST(count(*) AS BIGINT)
      |    AS n_grams FROM ctg GROUP BY doc_id),
      |chit AS (SELECT doc_id, CAST(count(*) AS BIGINT)
      |    AS n_hit_grams
      |  FROM ctg JOIN cbg USING (gram) GROUP BY doc_id)""".stripMargin

  // d72/d73's filter geometry: 2^16 bits / 3 probes — at the sf range
  // this runs at, load stays low enough that the realized FPR is a
  // meaningful audit column rather than saturation (BloomFilterSpec
  // exercises a deliberately saturated m=4096 envelope instead)
  private val bloomM = 65536
  private val bloomK = 3

  /** d72/d73's shared BUILD side: high-balance customer keys with the
    * portable hash the filter inserts. */
  private def bloomBuildKeys(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "customer")
      .filter(col("c_acctbal") > 7500)
      .select(col("c_custkey").as("ck"),
        Dedup.md5Long60(col("c_custkey").cast("string")).as("h"))

  /** d72/d73's shared PROBE report over a FETCHED filter: every
    * orders row tests membership through the pure column expression
    * (map-side — the 100 TB fact-scan shape), then audits against the
    * exact semi-join: false negatives must be zero by construction,
    * false positives quantify the realized FPR. */
  private def bloomProbeReport(s: SparkSession, dir: String,
                               bits: Seq[Long]): DataFrame = {
    import graft.functions.{BloomFilter60 => BF}
    val members = bloomBuildKeys(s, dir)
      .select(col("ck").as("o_custkey")).distinct()
      .withColumn("truth", lit(true))
    table(s, dir, "orders")
      .select(col("o_custkey"),
        BF.mightContain(bits, bloomM, bloomK,
          Dedup.md5Long60(col("o_custkey").cast("string")))
          .as("might"))
      .join(broadcast(members), Seq("o_custkey"), "left")
      .agg(count(lit(1)).as("n_probed"),
        coalesce(sum(when(col("might"), 1L).otherwise(0L)), lit(0L))
          .as("n_might"),
        coalesce(sum(when(col("truth").isNotNull, 1L).otherwise(0L)),
          lit(0L)).as("n_true_member"),
        coalesce(sum(when(col("might") && col("truth").isNull, 1L)
          .otherwise(0L)), lit(0L)).as("n_false_pos"),
        coalesce(sum(when(!col("might") && col("truth").isNotNull, 1L)
          .otherwise(0L)), lit(0L)).as("n_false_neg"))
      .withColumn("fpr_ppm",
        when(col("n_probed") > col("n_true_member"),
          expr("(1000000 * n_false_pos) div " +
            "(n_probed - n_true_member)")).otherwise(lit(0L)))
  }

  /** d72/d73's shared oracle: replays every membership decision from
    * the position SETS (no bit array needed — a probe hits iff all k
    * of its positions appear among any build key's), then the same
    * semi-join audit. */
  private lazy val duckBloomSql: String =
    s"""WITH bbk AS (SELECT DISTINCT c_custkey FROM customer
       |  WHERE c_acctbal > 7500),
       |bbh AS (SELECT c_custkey,
       |    ${duckHash60("CAST(c_custkey AS VARCHAR)")} AS h
       |  FROM bbk),
       |bbp AS (SELECT DISTINCT (h % 1073741824
       |    + g.i * ((h // 1073741824) | 1)) % $bloomM AS pos
       |  FROM bbh, (SELECT unnest(generate_series(0, ${bloomK - 1}))
       |    AS i) g),
       |bpr AS (SELECT o_orderkey, o_custkey,
       |    ${duckHash60("CAST(o_custkey AS VARCHAR)")} AS h
       |  FROM orders),
       |bpp AS (SELECT o_orderkey, (h % 1073741824
       |    + g.i * ((h // 1073741824) | 1)) % $bloomM AS pos
       |  FROM bpr, (SELECT unnest(generate_series(0, ${bloomK - 1}))
       |    AS i) g),
       |bht AS (SELECT o_orderkey FROM bpp JOIN bbp USING (pos)
       |  GROUP BY o_orderkey HAVING count(*) = $bloomK),
       |bfl AS (SELECT p.o_orderkey,
       |    (h2.o_orderkey IS NOT NULL) AS might,
       |    (mk.c_custkey IS NOT NULL) AS truth
       |  FROM bpr p LEFT JOIN bht h2 USING (o_orderkey)
       |  LEFT JOIN bbk mk ON mk.c_custkey = p.o_custkey)
       |SELECT CAST(count(*) AS BIGINT) AS n_probed,
       |  CAST(count(*) FILTER (WHERE might) AS BIGINT) AS n_might,
       |  CAST(count(*) FILTER (WHERE truth) AS BIGINT)
       |    AS n_true_member,
       |  CAST(count(*) FILTER (WHERE might AND NOT truth) AS BIGINT)
       |    AS n_false_pos,
       |  CAST(count(*) FILTER (WHERE truth AND NOT might) AS BIGINT)
       |    AS n_false_neg,
       |  CAST(CASE WHEN count(*) > count(*) FILTER (WHERE truth)
       |    THEN (1000000 * count(*) FILTER (WHERE might AND NOT truth))
       |      // (count(*) - count(*) FILTER (WHERE truth))
       |    ELSE 0 END AS BIGINT) AS fpr_ppm
       |FROM bfl""".stripMargin
      .replace(" AS (", " AS MATERIALIZED (")

  /** e18/e19's shared oracle: e17's covariance chain, mirrored to the
    * full symmetric matrix, then the 5 power-iteration steps UNROLLED
    * (exact HUGEINT matvec, exact max-abs, one mirrored double
    * division per component per step); λ from the last step's max
    * alone — no wide-integer-to-double conversion is ever compared.
    * `withDelta` appends e19's convergence residual
    * max|v5 − v4| (exact integers — the same replay, one more CTE). */
  private def duckDominantDirSqlWith(withDelta: Boolean): String = {
    val deltaCte = if (withDelta)
      """,
        |dl AS (SELECT CAST(max(abs(v5.v - v4.v)) AS BIGINT) AS d
        |  FROM v5 JOIN v4 USING (j))""".stripMargin
    else ""
    val deltaCol =
      if (withDelta) ",\n  dl.d AS delta_micro" else ""
    val deltaFrom = if (withDelta) ", dl" else ""
    s"""WITH $duckCovMomentCtes,
       |cm AS (SELECT i, j,
       |  CAST(round(CAST(n_vecs * sxy - sx * sy AS DOUBLE)
       |    / (CAST(n_vecs AS DOUBLE) * n_vecs * 1e6)) AS BIGINT)
       |    AS c FROM ag),
       |fm AS (SELECT i, j, c FROM cm
       |       UNION ALL SELECT j, i, c FROM cm WHERE i <> j),
       |v0 AS (SELECT DISTINCT i AS j, CAST(1000000 AS BIGINT) AS v
       |  FROM fm),
       |$duckPowerSteps$deltaCte
       |SELECT v5.j AS dim, v5.v AS v_micro,
       |  CAST(round(CAST(m5.m AS DOUBLE) / 1e6) AS BIGINT)
       |    AS lambda_micro$deltaCol
       |FROM v5, m5$deltaFrom ORDER BY dim""".stripMargin
      .replace(" AS (", " AS MATERIALIZED (")
  }

  private lazy val duckDominantDirSql: String =
    duckDominantDirSqlWith(withDelta = false)

  /** g18's oracle: the Louvain pyramid unrolled to a FIXED `levels`
    * count over the verified near-dup graph. Each level is the g17
    * block generalized to a weighted graph with self-loops: weighted
    * degrees (loops count twice), 2m, the exact-integer gain argmax
    * with the smaller-id guard, label composition onto ORIGINAL
    * nodes, then contraction (inter weights sum; intra weights and
    * mapped old loops fold into the new self-loops). A level past
    * convergence is the identity, so fixed unrolling matches the
    * early-exiting Spark loop exactly; n_levels re-derives as the
    * count of levels whose pick set is non-empty. */
  private def duckLouvainConvergedSql(levels: Int): String = {
    val lvl = (1 to levels).map { t =>
      s"""dg$t AS (SELECT id, CAST(sum(w) AS BIGINT) AS k FROM (
         |    SELECT lo AS id, w FROM e$t
         |    UNION ALL SELECT hi, w FROM e$t
         |    UNION ALL SELECT id, 2 * w FROM l$t) u GROUP BY id),
         |s$t AS (SELECT CAST(sum(k) AS BIGINT) AS s2m FROM dg$t),
         |mv$t AS (SELECT e.src, e.dst, s2m * e.w - ds.k * dd.k AS gain
         |  FROM (SELECT lo AS src, hi AS dst, w FROM e$t
         |        UNION ALL SELECT hi, lo, w FROM e$t) e
         |  JOIN dg$t ds ON ds.id = e.src
         |  JOIN dg$t dd ON dd.id = e.dst, s$t
         |  WHERE e.dst < e.src AND s2m * e.w - ds.k * dd.k > 0),
         |pk$t AS (SELECT src, dst FROM (
         |    SELECT src, dst, row_number() OVER (
         |      PARTITION BY src ORDER BY gain DESC, dst ASC) AS rn
         |    FROM mv$t) r WHERE rn = 1),
         |la$t AS (SELECT d.id, coalesce(b.dst, d.id) AS comm
         |  FROM dg$t d LEFT JOIN pk$t b ON b.src = d.id),
         |lab$t AS (SELECT p.orig, la.comm FROM lab${t - 1} p
         |  JOIN la$t la ON la.id = p.comm),
         |ce$t AS (SELECT a.comm AS ca, b.comm AS cb, e.w FROM e$t e
         |  JOIN la$t a ON a.id = e.lo JOIN la$t b ON b.id = e.hi),
         |e${t + 1} AS (SELECT least(ca, cb) AS lo,
         |    greatest(ca, cb) AS hi, CAST(sum(w) AS BIGINT) AS w
         |  FROM ce$t WHERE ca <> cb GROUP BY 1, 2),
         |l${t + 1} AS (SELECT id, CAST(sum(w) AS BIGINT) AS w FROM (
         |    SELECT ca AS id, w FROM ce$t WHERE ca = cb
         |    UNION ALL SELECT la.comm AS id, l.w FROM l$t l
         |      JOIN la$t la ON la.id = l.id) u GROUP BY id)"""
        .stripMargin
    }.mkString(",\n")
    val nLevels = (1 to levels).map(t =>
      s"(CASE WHEN EXISTS (SELECT 1 FROM pk$t) THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH ${duckLshVerifiedCtes("documents", 0.3)},
       |te AS (SELECT DISTINCT least(id_a, id_b) AS lo,
       |    greatest(id_a, id_b) AS hi
       |  FROM vpairs WHERE id_a <> id_b),
       |e1 AS (SELECT lo, hi, CAST(1 AS BIGINT) AS w FROM te),
       |l1 AS (SELECT CAST(NULL AS BIGINT) AS id,
       |    CAST(NULL AS BIGINT) AS w WHERE 1 = 0),
       |lab0 AS (SELECT id AS orig, id AS comm FROM (
       |    SELECT lo AS id FROM te UNION SELECT hi FROM te) n),
       |$lvl,
       |nl AS (SELECT CAST($nLevels AS BIGINT) AS n_levels)
       |SELECT lab$levels.orig AS doc_id,
       |  CAST(lab$levels.comm AS BIGINT) AS community, nl.n_levels
       |FROM lab$levels, nl ORDER BY doc_id LIMIT 2000""".stripMargin
      .replace(" AS (", " AS MATERIALIZED (")
  }

  /** q108/q109's shared input frame: per-document (source, value)
    * with nulls dropped on both key and value — only the columns the
    * sketch and the audit read, so q108's scan stays two columns
    * (q109 adds its batch key in its own frame). */
  private def groupedKllDocs(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .select(col("source"), col("n_chars").cast("long").as("v"))
      .filter(col("source").isNotNull && col("v").isNotNull)

  /** q108/q109's shared grouped exact-rank audit: each per-source
    * median estimate (a bounded sketch fetch) is recounted against
    * its source's exact rank interval in ONE grouped pass, with the
    * 8n/k acceptance bound riding per row — the kllAuditFrame shape,
    * grouped. */
  private def groupedKllAudit(s: SparkSession, docs: DataFrame,
      ests: Seq[(String, Long, Long)], k: Int): DataFrame = {
    val sImp = s
    import sImp.implicits._
    docs.join(broadcast(
        ests.toDF("source", "est_chars", "n_retained")), "source")
      .groupBy("source", "est_chars", "n_retained")
      .agg(count(lit(1)).as("n"),
        sum(when(col("v") < col("est_chars"), 1L).otherwise(0L))
          .as("n_lt"),
        sum(when(col("v") <= col("est_chars"), 1L).otherwise(0L))
          .as("n_le"))
      .transform(withRankErr(_, "500", k))
      .select(col("source"), col("n"), col("est_chars"),
        col("target_rank"), col("rank_err"), col("bound"),
        (col("rank_err") <= col("bound")).as("within_bound"),
        col("n_retained"))
      .orderBy("source")
  }

  /** The KLL entries' shared exact-rank audit: given the corpus value
    * frame and a FETCHED sketch (bounded O(k) state), recount each
    * quantile estimate's true rank interval in ONE corpus pass (a
    * 5-way literal explode feeding conditional sums — map-side, no
    * join) and report the rank error against the 8n/k acceptance
    * bound. Sketch estimates depend on partition boundaries, so these
    * entries are rows-only — the audit columns make every run
    * self-checking anyway. */
  private def kllAuditFrame(vals: DataFrame,
                            st: graft.functions.KllState,
                            k: Int): DataFrame = {
    val (ests, nRet) = kllEstimates(st)
    vals.select(col("v"), explode(typedlit(ests)).as("e"))
      .select(col("e._1").as("q_permille"),
        col("e._2").as("est_cents"), col("v"))
      .groupBy("q_permille", "est_cents")
      .agg(count(lit(1)).as("n"),
        sum(when(col("v") < col("est_cents"), 1L).otherwise(0L))
          .as("n_lt"),
        sum(when(col("v") <= col("est_cents"), 1L).otherwise(0L))
          .as("n_le"))
      .transform(withRankErr(_, "q_permille", k))
      .select(col("q_permille"), col("est_cents"), col("n"),
        col("target_rank"), col("rank_err"), col("bound"),
        (col("rank_err") <= col("bound")).as("within_bound"),
        lit(nRet).as("n_retained"))
      .orderBy("q_permille")
  }

  /** [[groupedKllAudit]] in WEIGHT space (q112): each per-source
    * token-weighted median estimate recounted against its source's
    * exact WEIGHTED rank interval in one grouped pass, bound 8W_g/k
    * per group (W_g the group's total weight). */
  private def groupedWeightedKllAudit(s: SparkSession, docs: DataFrame,
      ests: Seq[(String, Long, Long)], k: Int): DataFrame = {
    val sImp = s
    import sImp.implicits._
    docs.join(broadcast(
        ests.toDF("source", "est_chars", "n_retained")), "source")
      .select(col("source"), col("est_chars"), col("n_retained"),
        col("v"), greatest(col("w"), lit(0L)).as("w"))
      .groupBy("source", "est_chars", "n_retained")
      .agg(weightedRankCounts.head, weightedRankCounts.tail: _*)
      .transform(withRankErr(_, "500", k))
      .select(col("source"), col("n").as("w_total"), col("est_chars"),
        col("target_rank"), col("rank_err"), col("bound"),
        (col("rank_err") <= col("bound")).as("within_bound"),
        col("n_retained"))
      .orderBy("source")
  }

  /** [[kllAuditFrame]] in WEIGHT space (q110): the corpus frame
    * carries (v, w) and every rank quantity is a weighted sum — the
    * target is the ⌈q·W⌉-th unit of WEIGHT, the estimate's rank
    * interval is (Σw over v<est, Σw over v<=est], and the acceptance
    * bound is 8W/k for total weight W. Same one-pass 5-way literal
    * explode; rows with w <= 0 contribute nothing to either side
    * (the aggregator skips them, the sums weight them zero). */
  private def weightedKllAuditFrame(vals: DataFrame,
                                    st: graft.functions.KllState,
                                    k: Int): DataFrame = {
    val (ests, nRet) = kllEstimates(st)
    vals.select(col("v"), col("w"), explode(typedlit(ests)).as("e"))
      .select(col("e._1").as("q_permille"),
        col("e._2").as("est_chars"), col("v"),
        greatest(col("w"), lit(0L)).as("w"))
      .groupBy("q_permille", "est_chars")
      .agg(weightedRankCounts.head, weightedRankCounts.tail: _*)
      .transform(withRankErr(_, "q_permille", k))
      .select(col("q_permille"), col("est_chars"), col("n").as("w_total"),
        col("target_rank"), col("rank_err"), col("bound"),
        (col("rank_err") <= col("bound")).as("within_bound"),
        lit(nRet).as("n_retained"))
      .orderBy("q_permille")
  }

  /** The word-collocation graph family's shared state: the top-300
    * PMI collocations as 60-bit portable-hash edges plus the word↔id
    * map, staged ONCE per (application, sfDir) and consumed by the
    * g8/g13/g14 graph reports — the same production shape as
    * [[dedupArtifacts]] (compute the graph per corpus snapshot,
    * compose reports over it). The k-row PMI result feeds BOTH frames
    * and its lineage is the corpus token scan, so both are pinned
    * (PLANS.md "PPR + g8 rehearsal" A/B: 5.1 → 1.9 s at sf0.1,
    * labels identical). Returns (edges(id_a, id_b), words(word, id)). */
  private def wordGraph(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) =
    Staged(s, "wordGraph", dir) {
      val pmi = TextStats.pmiCollocations(
        table(s, dir, "documents"), "doc_id", "text",
        minCount = 10, k = 300).localCheckpoint()
      val w1 = element_at(split(col("bigram"), " "), 1)
      val w2 = element_at(split(col("bigram"), " "), 2)
      val edges = pmi.select(Dedup.md5Long60(w1).as("id_a"),
        Dedup.md5Long60(w2).as("id_b")).localCheckpoint()
      val words = pmi
        .select(explode(array(w1, w2)).as("word")).distinct()
        .withColumn("id", Dedup.md5Long60(col("word")))
        .localCheckpoint()
      (edges, words)
    }

  /** The word-graph oracles' shared derivation (d60, g8, g13, g14,
    * g15): corpus → PMI top-300 → hashed edge list (te normalized, ed
    * both directions) and the word↔id map (wm) — ONE text so the graph
    * reports cannot drift onto different graphs. */
  private lazy val duckWordGraphCtes: String =
    s"""tk AS (SELECT str_split(text, ' ') AS toks
       |  FROM documents),
       |tt AS (SELECT CAST(sum(len(toks)) AS BIGINT) AS nt,
       |    CAST(sum(greatest(len(toks) - 1, 0)) AS BIGINT) AS nb
       |  FROM tk),
       |u AS (SELECT ut.tok, CAST(count(*) AS BIGINT) AS c1
       |  FROM tk, unnest(toks) AS ut(tok) GROUP BY ut.tok),
       |bf AS (SELECT bg, CAST(count(*) AS BIGINT) AS c2
       |  FROM (SELECT unnest(list_transform(
       |      generate_series(1, greatest(len(toks) - 1, 0)),
       |      i -> toks[i] || ' ' || toks[i+1])) AS bg FROM tk) b
       |  GROUP BY bg HAVING count(*) >= 10),
       |pm AS (SELECT bf.bg FROM bf
       |  JOIN u u1 ON u1.tok = str_split(bf.bg, ' ')[1]
       |  JOIN u u2 ON u2.tok = str_split(bf.bg, ' ')[2]
       |  CROSS JOIN tt
       |  ORDER BY CAST(round(1e6 * ln(
       |      (CAST(bf.c2 AS DOUBLE) * tt.nt * tt.nt)
       |      / (tt.nb * CAST(u1.c1 AS DOUBLE)
       |         * CAST(u2.c1 AS DOUBLE)))) AS BIGINT) DESC,
       |    bg ASC
       |  LIMIT 300),
       |wh AS (SELECT bg,
       |    ${duckHash60("str_split(bg, ' ')[1]")} AS ha,
       |    ${duckHash60("str_split(bg, ' ')[2]")} AS hb
       |  FROM pm),
       |te AS (SELECT DISTINCT least(ha, hb) AS lo,
       |    greatest(ha, hb) AS hi
       |  FROM wh WHERE ha <> hb),
       |ed AS (SELECT lo AS src, hi AS dst FROM te
       |       UNION ALL SELECT hi, lo FROM te),
       |wm AS (SELECT DISTINCT word, id FROM (
       |    SELECT str_split(bg, ' ')[1] AS word, ha AS id FROM wh
       |    UNION ALL SELECT str_split(bg, ' ')[2], hb FROM wh) wmu)"""
      .stripMargin

  /** The d69/d70 shared oracle: Count-Min cell table (4 salted md5
    * rows × 1024 buckets) + top-20 exact counts + min-cell estimates
    * — ONE text because CMS is linear: the streaming fold's merged
    * table must equal the one-shot table, so both entries answer the
    * identical question. */
  private lazy val duckCmsSql: String =
    s"""WITH tks AS (SELECT unnest(str_split(text, ' '))
       |    AS tok FROM documents),
       |rr AS (SELECT unnest(generate_series(0, 3)) AS r),
       |cm AS (SELECT r, b, CAST(count(*) AS BIGINT) AS c
       |  FROM (SELECT rr.r,
       |      ${duckHash60("'s' || rr.r || ':' || tok")} % 1024
       |        AS b
       |    FROM tks CROSS JOIN rr) cell
       |  GROUP BY r, b),
       |tp AS (SELECT tok, CAST(count(*) AS BIGINT)
       |    AS exact_count
       |  FROM tks GROUP BY tok
       |  ORDER BY exact_count DESC, tok LIMIT 20),
       |tb AS (SELECT tok, exact_count, rr.r,
       |    ${duckHash60("'s' || rr.r || ':' || tok")} % 1024
       |      AS b
       |  FROM tp CROSS JOIN rr)
       |SELECT tb.tok, tb.exact_count,
       |  CAST(min(coalesce(cm.c, 0)) AS BIGINT) AS est_count
       |FROM tb LEFT JOIN cm USING (r, b)
       |GROUP BY tb.tok, tb.exact_count
       |ORDER BY exact_count DESC, tok""".stripMargin

  /** The t1/q67/t12 shared sessionization: 30-minute-gap
    * `session_seq` per (user, event) — ONE Spark definition (and one
    * oracle CTE text, [[duckSessionCtes]]) so a gap-rule or tie-break
    * change cannot de-sync the session family (round-11 review). */
  private def withSessionSeq(ev: DataFrame,
                             extraCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
    val prev = lag(col("ts"), 1).over(w)
    ev.select((Seq("event_id", "user_id", "ts") ++ extraCols)
        .map(col): _*)
      .withColumn("session_seq",
        sum(when(prev.isNull ||
          col("ts") > prev + lit(1800L * 1000000000L), 1)
          .otherwise(0))
          .over(w.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)).cast("long"))
  }

  /** [[withSessionSeq]]'s oracle twin: `se` = every event with its
    * 30-minute-gap session_seq. */
  private lazy val duckSessionCtes: String =
    """sb AS (SELECT event_id, user_id, ts, event_type,
      |    lag(ts) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS prev_ts
      |  FROM events),
      |se AS (SELECT event_id, user_id, ts, event_type,
      |    CAST(SUM(CASE WHEN prev_ts IS NULL
      |        OR ts > prev_ts + INTERVAL 30 MINUTE
      |      THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS BIGINT) AS session_seq
      |  FROM sb)""".stripMargin

  /** The series family's shared oracle derivation: events → hourly
    * (bucket, count, sum) → rounded-mean series `mm` — ONE text for
    * every consumer (EWMA, ACF, Ljung–Box, MASE), the SQL twin of
    * the Scala side's single `bucketMeansMicro` builder. */
  private lazy val duckSeriesCtes: String =
    s"""${duckHourlySums("x")},
      |mm AS (SELECT x, CAST(round(CAST(s AS DOUBLE) / c)
      |    AS BIGINT) AS m FROM bb)""".stripMargin

  /** The EWMA chain's tail over the shared series: power-of-2
    * weights → per-bucket forecast `ff` (spliced after
    * [[duckSeriesCtes]] by the EWMA entries AND the panel). */
  private lazy val duckEwmaTail: String =
    """jj AS (SELECT unnest(generate_series(1, 16)) AS j),
      |ct AS (SELECT mm.x + jj.j AS x,
      |    CAST(mm.m AS HUGEINT) AS pm,
      |    CAST(power(2, 16 - jj.j) AS BIGINT) AS w
      |  FROM mm CROSS JOIN jj),
      |fc AS (SELECT x, coalesce(sum(pm * w), 0) AS num,
      |    CAST(sum(w) AS BIGINT) AS den
      |  FROM ct GROUP BY x),
      |ff AS (SELECT mm.x, mm.m,
      |    CAST(round(CAST(num AS DOUBLE)
      |      / CAST(den AS DOUBLE)) AS BIGINT) AS forecast_micro
      |  FROM mm JOIN fc USING (x))""".stripMargin

  /** [[duckSeriesCtes]] + [[duckEwmaTail]] — the q94/q97/q100
    * chain. */
  private lazy val duckEwmaCtes: String =
    s"""$duckSeriesCtes,
      |$duckEwmaTail""".stripMargin

  /** The q94/q100 shared oracle: ONE text because the streaming
    * fold's bucket state is a pure function of the rows, so both
    * entries answer the identical question. */
  private lazy val duckEwmaSql: String =
    s"""WITH $duckEwmaCtes
      |SELECT x, m, forecast_micro,
      |  m - forecast_micro AS resid_micro
      |FROM ff ORDER BY x""".stripMargin

  /** The ACF chain's tail over the shared series: integer deviations
    * → per-lag sums `ag` + the denominator `dn` (spliced after
    * [[duckSeriesCtes]] by the ACF entries AND the panel). */
  private lazy val duckAcfTail: String =
    """ns AS (SELECT CAST(count(*) AS HUGEINT) AS n,
      |    CAST(coalesce(sum(m), 0) AS HUGEINT) AS sm FROM mm),
      |dd AS (SELECT x, n * m - sm AS d FROM mm, ns),
      |dn AS (SELECT coalesce(sum(d * d), 0) AS den FROM dd),
      |lg AS (SELECT unnest(generate_series(1, 8)) AS lag),
      |pr AS (SELECT lg.lag, a.d AS da, b.d AS db
      |  FROM dd a CROSS JOIN lg
      |  JOIN dd b ON a.x + lg.lag = b.x),
      |ag AS (SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
      |    coalesce(sum(da * db), 0) AS num
      |  FROM pr GROUP BY lag)""".stripMargin

  /** [[duckSeriesCtes]] + [[duckAcfTail]] — the q92/q99 chain. */
  private lazy val duckAcfCtes: String =
    s"""$duckSeriesCtes,
      |$duckAcfTail""".stripMargin

  /** The q99/q101 shared Ljung–Box tail over [[duckAcfTail]]'s
    * `ag`/`dn`: rounded per-lag ACFs → micro terms `tm` + the bucket
    * count `nb`. */
  private lazy val duckLbTail: String =
    """af AS (SELECT lag,
      |    CASE WHEN den > 0 THEN
      |      ROUND(CAST(num AS DOUBLE) / CAST(den AS DOUBLE),
      |        6)
      |    ELSE NULL END AS acf
      |  FROM ag, dn),
      |nb AS (SELECT CAST(count(*) AS BIGINT) AS n FROM mm),
      |tm AS (SELECT CAST(round(1e6 * n * (n + 2)
      |      * (acf * acf) / (n - lag)) AS BIGINT) AS term
      |  FROM af, nb WHERE acf IS NOT NULL AND lag < n)""".stripMargin

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * the full analyze metrics block (SURVEY §3.1) over the events table. */
  def entry(spark: SparkSession): DataFrame =
    analyzeMetrics(spark, "/root/testdata/sf0.001")

  // ---- flagship: analyze (cli.py:268-309 / analyzer.go:91-177) ---------
  private def analyzeMetrics(s: SparkSession, dir: String): DataFrame =
    AnalyzeQuery.metricsFrame(commits(s, dir)).select(
      col("total_commits"), col("total_selections"), col("raw_input_commits"),
      col("first_choice_count"), col("top3_count"),
      round(col("average_rank"), 6).as("average_rank"),
      round(col("overall_accuracy_score"), 6).as("overall_accuracy_score"),
      round(col("first_choice_hit_rate"), 6).as("first_choice_hit_rate"),
      round(col("top3_hit_rate"), 6).as("top3_hit_rate"),
      round(col("direct_input_rate"), 6).as("direct_input_rate"))

  private val cte = SE.rimeCte
  private val commitsCte =
    s"""$cte, c AS (SELECT * FROM rime WHERE event_type = 'text_committed')"""

  private case class Q(fn: (SparkSession, String) => DataFrame,
                       sql: Option[String])

  /** Verification preset for the P8/P9 write-cascade queries: enables
    * commits (non-first-choice only) and views, keeps a 2-3 field mask
    * each; purchase/signup disabled at step 1, error dropped at step 3
    * (no field rules) — every cascade branch exercised. */
  private val verifyPreset = graft.config.LoggerPreset(
    name = "verify", enabled = true, logOnlyNonFirstChoice = true,
    logEvents = Map("text_committed" -> true, "view" -> true,
      "purchase" -> false, "signup" -> false, "error" -> true),
    logFields = Map(
      "text_committed" -> graft.config.EventFieldRules(Set(
        "event_id", "committed_text", "selected_candidate_rank")),
      "view" -> graft.config.EventFieldRules(Set("event_id", "value"))))

  /** Shared g7/g9 body: personalized PageRank from the 2 smallest
    * node ids of the staged near-dup pair graph (a 2-row parameter
    * fetch, data-derived so the oracle re-derives them); `sparse`
    * flips only the PLAN (frontier-carried state), never the ranks. */
  private def pprEntry(s: SparkSession, dir: String,
                       sparse: Boolean): DataFrame = {
    val pairs = dedupArtifacts(s, dir).pairs
    val seeds = pairs.select(col("id_a").as("id"))
      .union(pairs.select(col("id_b").as("id")))
      .distinct().orderBy("id").limit(2)
      .collect().map(_.getLong(0)).toSeq
    graft.pipeline.GraphOps.personalizedPageRankMicro(
        pairs, "id_a", "id_b", seeds, iterations = 3, sparse = sparse)
      .withColumnRenamed("id", "doc_id")
      .orderBy(desc("rank_micro"), asc("doc_id")).limit(500)
  }

  /** The g7/g9 oracle: 3 unrolled PPR rounds over the verified pair
    * graph, shared verbatim by the dense and sparse entries — the
    * oracle is what pins that the plan choice never moves a rank. */
  private lazy val pprOracleSql: String = {
    val rounds = (1 to 3).map { r =>
      s"""ppr$r AS (SELECT pge.dst AS id, CAST(
         |      CASE WHEN pge.dst IN (SELECT id FROM pgs)
         |        THEN 150000 ELSE 0 END
         |      + ROUND(0.85 * SUM(ppr${r - 1}.r // pgd.deg)) AS BIGINT)
         |      AS r
         |    FROM pge JOIN ppr${r - 1} ON ppr${r - 1}.id = pge.src
         |    JOIN pgd ON pgd.src = pge.src GROUP BY pge.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${duckLshVerifiedCtes("documents", 0.3)},
       |pgs AS (SELECT id FROM (SELECT id_a AS id FROM vpairs
       |        UNION SELECT id_b FROM vpairs) u
       |        ORDER BY id LIMIT 2),
       |pge AS (SELECT id_a AS src, id_b AS dst FROM vpairs
       |        UNION ALL
       |        SELECT id_b AS src, id_a AS dst FROM vpairs),
       |pgd AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
       |        FROM pge GROUP BY src),
       |ppr0 AS (SELECT src AS id, CAST(CASE WHEN src IN
       |      (SELECT id FROM pgs) THEN 1000000 ELSE 0 END
       |      AS BIGINT) AS r
       |    FROM pgd),
       |$rounds
       |SELECT id AS doc_id, r AS rank_micro FROM ppr3
       |ORDER BY rank_micro DESC, doc_id ASC
       |LIMIT 500""".stripMargin
  }

  /** The d56 demo model: 512 micro-integer hashed-feature weights +
    * bias from a fixed integer recurrence — deterministic, so the SAME
    * literals splice into the Spark plan and the DuckDB oracle (the
    * q70 Benford convention). A real deployment loads a trained vector
    * instead; the inference shape is identical. */
  private lazy val classifierModel: (IndexedSeq[Long], Long) =
    ((0 until 512).map(j =>
      ((j * 2654435761L + 97L) % 2000001L) - 1000000L), 250000L)

  /** DuckDB CTE chain replaying [[graft.pipeline.Bpe.train]] for
    * `rounds` rounds over the documents vocabulary (the d44 unrolled
    * replay convention): w0/vc/v0 build the paren-encoded
    * word-frequency vocab; each round r contributes s_r (symbol
    * split), p_r (weighted adjacent-pair counts), m_r (deterministic
    * argmax) and v_r (the merge applied via leftmost non-overlapping
    * replace, the exact Bpe semantics). v_r LEFT-joins the 1-row m_r
    * (ON true) and carries the vocabulary through UNCHANGED when m_r
    * is empty — matching Bpe.train's early stop when no adjacent pair
    * remains; a cross join would collapse every later v_k to zero
    * rows and diverge d57 on an exhausted corpus. d55 reads the m_r
    * rows, d57 reads the final v_rounds vocabulary. */
  /** BPE training-chain CTEs over relation `rel` (exposing `text`) —
    * NO leading WITH, so callers can splice it after other CTEs. */
  private def bpeChainCtes(rounds: Int,
                           rel: String = "documents"): String = {
    val roundCtes = (1 to rounds).map { r =>
      s"""s$r AS (SELECT str_split(trim(enc, '()'), ')(') AS sy, n
         |  FROM v${r - 1}),
         |p$r AS (SELECT u.l AS l, u.r AS r, SUM(n) AS c
         |  FROM s$r, unnest(list_transform(
         |    generate_series(1, len(sy) - 1),
         |    i -> {'l': sy[i], 'r': sy[i + 1]})) AS t(u)
         |  GROUP BY u.l, u.r),
         |m$r AS (SELECT l, r, c FROM p$r
         |  ORDER BY c DESC, l, r LIMIT 1),
         |v$r AS (SELECT w, CASE WHEN m$r.l IS NULL THEN enc
         |    ELSE replace(enc,
         |      '(' || m$r.l || ')(' || m$r.r || ')',
         |      '(' || m$r.l || m$r.r || ')') END AS enc, n
         |  FROM v${r - 1} LEFT JOIN m$r ON true)""".stripMargin
    }.mkString(",\n")
    s"""w0 AS (SELECT t.w AS w FROM (SELECT
       |    unnest(str_split(text, ' ')) AS w FROM $rel) t
       |  WHERE regexp_full_match(t.w, '[a-z0-9]+')),
       |vc AS (SELECT w, CAST(count(*) AS BIGINT) AS n FROM w0
       |  GROUP BY w),
       |v0 AS (SELECT w, array_to_string(list_transform(
       |    str_split(w, ''), c -> '(' || c || ')'), '') AS enc, n
       |  FROM vc),
       |$roundCtes""".stripMargin
  }

  /** DuckDB CTE chain replaying [[graft.pipeline.CleanPipeline]]'s
    * curation survivors over `documents`/`embeddings` — n-gram keep,
    * unigram-LM band, semantic-dup drop — ending in `flt` (survivors
    * BEFORE exact dedup; the dedup is one min-id-per-text predicate on
    * `flt`). NO leading WITH. Shared by llm_curate_full and the
    * llm_pretrain_full capstone so the replayed stage cannot drift
    * between them. */
  private def duckCurateCtes: String =
    s"""t AS (SELECT doc_id, str_split(text,' ') AS toks
      |  FROM documents),
      |ga AS (SELECT doc_id, list_distinct(list_transform(
      |    generate_series(1, greatest(len(toks)-12, 0)),
      |    i -> array_to_string(toks[i:i+12], ' '))) AS gs FROM t),
      |g AS (SELECT doc_id, unnest(gs) AS gram FROM ga),
      |dfr AS (SELECT gram, count(*) AS df FROM g GROUP BY gram),
      |dup AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nd
      |  FROM g JOIN dfr USING (gram) WHERE df > 1
      |  GROUP BY doc_id),
      |tot AS (SELECT doc_id, CAST(len(gs) AS BIGINT) AS ng
      |  FROM ga),
      |ngkeep AS (SELECT tot.doc_id
      |  FROM tot LEFT JOIN dup USING (doc_id)
      |  WHERE (CASE WHEN ng > 0 THEN
      |      ROUND(CAST(COALESCE(nd, 0) AS DOUBLE) / ng, 6)
      |    ELSE 0.0 END) <= 0.2),
      |t2 AS (SELECT doc_id, unnest(str_split(text, ' ')) AS tok
      |  FROM documents),
      |f2 AS (SELECT tok, count(*) AS cnt FROM t2 GROUP BY tok),
      |n2 AS (SELECT CAST(ROUND(log10(SUM(cnt)) * 1e6) AS BIGINT)
      |    AS lln FROM f2),
      |d2 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS ntok,
      |    CAST(SUM(CAST(ROUND(log10(cnt) * 1e6) AS BIGINT))
      |      AS BIGINT) AS sll
      |  FROM t2 JOIN f2 USING (tok) GROUP BY doc_id),
      |band AS (SELECT doc_id FROM d2, n2
      |  WHERE CAST(TRUNC(CAST(sll - ntok * lln AS DOUBLE) / ntok)
      |    AS BIGINT) > -1500000),
      |$duckSemDupCtes,
      |flt AS (SELECT doc_id, text, lang, n_chars FROM documents
      |  WHERE doc_id IN (SELECT doc_id FROM ngkeep)
      |    AND doc_id IN (SELECT doc_id FROM band)
      |    AND doc_id NOT IN (SELECT did FROM dr))""".stripMargin

  /** DuckDB CTE chain replaying the NB-holdout trainer+scorer
    * ([[graft.pipeline.Classify.nbScores]] under the d59 80/20
    * portable-hash split) — ends in `sc` (doc_id, lang, cl, s): the
    * integer-micro score of every holdout doc under every train
    * class. NO leading WITH. Shared by d59 and the d64 model-quality
    * report so the replayed model cannot drift between them. */
  private def duckNbHoldoutCtes: String =
    s"""sp AS (SELECT doc_id, lang, text,
       |    ${duckHash60("CAST(doc_id AS VARCHAR)")} % 5 AS b
       |  FROM documents),
       |tr AS (SELECT doc_id, lang, text FROM sp WHERE b <> 0),
       |te AS (SELECT doc_id, lang, text FROM sp WHERE b = 0),
       |t AS (SELECT doc_id, lang,
       |    unnest(str_split(text, ' ')) AS tok FROM tr),
       |ts AS (SELECT doc_id, lang,
       |    unnest(str_split(text, ' ')) AS tok FROM te),
       |vs AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v
       |  FROM t),
       |nl AS (SELECT lang AS cl, CAST(count(*) AS BIGINT) AS n
       |  FROM t GROUP BY lang),
       |dl AS (SELECT lang AS cl, CAST(count(*) AS BIGINT) AS d
       |  FROM tr GROUP BY lang),
       |dd AS (SELECT CAST(count(*) AS BIGINT) AS d FROM tr),
       |ct AS (SELECT lang AS clab, tok AS ctok,
       |    CAST(count(*) AS BIGINT) AS c
       |  FROM t GROUP BY lang, tok),
       |cand AS (SELECT ts.doc_id, ts.lang, ts.tok, nl.cl, nl.n
       |  FROM ts CROSS JOIN nl),
       |terms AS (SELECT c2.doc_id, c2.lang, c2.cl,
       |    CAST(round(1e6 * ln((COALESCE(ct.c, 0) + 1)
       |      / CAST(c2.n + vs.v AS DOUBLE))) AS BIGINT) AS term
       |  FROM cand c2 CROSS JOIN vs
       |  LEFT JOIN ct ON ct.clab = c2.cl AND ct.ctok = c2.tok),
       |pri AS (SELECT dl.cl,
       |    CAST(round(1e6 * ln(CAST(dl.d AS DOUBLE) / dd.d))
       |      AS BIGINT) AS p
       |  FROM dl CROSS JOIN dd),
       |sc AS (SELECT tr2.doc_id, tr2.lang, tr2.cl,
       |    CAST(SUM(tr2.term) + max(pri.p) AS BIGINT) AS s
       |  FROM terms tr2 JOIN pri ON pri.cl = tr2.cl
       |  GROUP BY tr2.doc_id, tr2.lang, tr2.cl)""".stripMargin

  /** The unrolled MMR greedy (k steps, λ = 0.7 as 7/3 tenths) over a
    * prepared `cand` (vec_id, nv, rel_m) CTE — shared by r3 (brute
    * pool) and e16 (IVF-probed pool) so the re-rank semantics cannot
    * drift between them. NO leading WITH; splice after the caller's
    * cand CTE and apply the MATERIALIZED rewrite to the whole SQL
    * (every step re-references cand/cp and all prior steps). */
  private def duckMmrTail(k: Int): String = {
    def selUnion(r: Int) = (1 until r)
      .map(i => s"SELECT vec_id FROM s$i").mkString(" UNION ALL ")
    val steps = (2 to k).map { r =>
      val su = selUnion(r)
      s"""s$r AS (SELECT c.vec_id, c.rel_m,
         |    (SELECT MAX(cm) FROM cp WHERE ai = c.vec_id
         |      AND bi IN ($su)) AS pen,
         |    7 * c.rel_m - 3 * (SELECT MAX(cm) FROM cp
         |      WHERE ai = c.vec_id AND bi IN ($su)) AS sc
         |  FROM cand c WHERE c.vec_id NOT IN ($su)
         |  ORDER BY sc DESC, c.vec_id LIMIT 1)""".stripMargin
    }.mkString(",\n")
    val out = (2 to k).map(r =>
      s"UNION ALL SELECT CAST($r AS BIGINT), vec_id, rel_m, " +
        s"pen, sc FROM s$r").mkString("\n")
    s"""cp AS (SELECT a.vec_id AS ai, b.vec_id AS bi,
       |    CAST(round(1e6 * list_dot_product(a.nv, b.nv))
       |      AS BIGINT) AS cm
       |  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
       |s1 AS (SELECT vec_id, rel_m, CAST(0 AS BIGINT) AS pen,
       |    7 * rel_m AS sc
       |  FROM cand ORDER BY sc DESC, vec_id LIMIT 1),
       |$steps
       |SELECT CAST(1 AS BIGINT) AS mmr_rank, vec_id,
       |  rel_m AS rel_micro, pen AS pen_micro, sc AS score10_micro
       |FROM s1
       |$out
       |ORDER BY mmr_rank""".stripMargin
  }

  /** The winnow pair-matching oracle (k=4, w=5, df<=20, shared>=2) —
    * shared VERBATIM by d66 (one-shot) and d68 (append-only index
    * replay): the replay's contract IS equality with the one-shot. */
  private def duckWinnowPairsSql: String =
    s"""WITH $duckWinnowKeyCtes,
       |fh AS (SELECT DISTINCT doc_id, skey // 16777216 AS h
       |  FROM sel),
       |wdf AS (SELECT h FROM fh GROUP BY h
       |  HAVING count(*) <= 20),
       |fk AS (SELECT doc_id, h FROM fh JOIN wdf USING (h))
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(count(*) AS BIGINT) AS n_shared
       |FROM fk a JOIN fk b ON a.h = b.h
       |  AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= 2
       |ORDER BY id_a, id_b LIMIT 5000""".stripMargin

  /** The binary-segmentation oracle over events' hourly value-micro
    * buckets — shared VERBATIM by q82 (one-shot) and q83 (stream
    * replay): the replay's contract IS equality with the one-shot. */
  private def duckBinsegSql: String =
    s"""WITH ${duckHourlySums("bucket")},
      |${duckCusumWalk("cw", "bb")},
      |${duckCusumSplit("rt", "cw")},
      |lb AS (SELECT * FROM bb
      |  WHERE bucket <= (SELECT cp_bucket FROM rt)),
      |${duckCusumWalk("lw", "lb")},
      |${duckCusumSplit("lt", "lw")},
      |rb AS (SELECT * FROM bb
      |  WHERE bucket > (SELECT cp_bucket FROM rt)),
      |${duckCusumWalk("rw", "rb")},
      |${duckCusumSplit("rr", "rw")}
      |SELECT CAST(1 AS BIGINT) AS level, 'root' AS segment,
      |  cp_bucket, nb AS n_buckets, CAST(d AS DOUBLE) AS cusum
      |FROM rt
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), 'left', cp_bucket, nb,
      |  CAST(d AS DOUBLE) FROM lt
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), 'right', cp_bucket, nb,
      |  CAST(d AS DOUBLE) FROM rr
      |ORDER BY level, segment""".stripMargin

  /** DuckDB rendering of [[graft.pipeline.Dedup.md5Long60]]: big-endian
    * integer of the leading 15 md5 hex chars, via digit polynomial. */
  private def duckHash60(e: String): String =
    s"""CAST(list_sum(list_transform(generate_series(1, 15), i ->
       |    CAST(strpos('0123456789abcdef', substr(md5($e), i, 1)) - 1
       |      AS BIGINT) << (4 * (15 - i)))) AS BIGINT)""".stripMargin

  /** DuckDB CTE chain replaying [[graft.pipeline.Dedup
    * .lshVerifiedJaccardPairs]] (portable md5 MinHash, k=12 / 4 bands /
    * 3-shingles) over relation `rel` (exposing doc_id, text). Emits
    * CTEs `ldoc/lhs/lband/lcand/vtok/vsz/vinter/vpairs`; `vpairs` has
    * (id_a, id_b, jaccard) for exact Jaccard >= threshold on LSH
    * candidates only. Splice after a WITH list. */
  private def duckLshVerifiedCtes(rel: String, threshold: Double): String =
    s"""ldoc AS (SELECT doc_id,
       |    list_distinct(list_transform(
       |      generate_series(0, greatest(len(toks) - 3, 0)),
       |      i -> array_to_string(toks[i+1:i+3], ' '))) AS sh
       |  FROM (SELECT doc_id, str_split(text, ' ') AS toks
       |        FROM $rel) t),
       |lhs AS (SELECT doc_id, g.j,
       |    min(((${duckHash60("u.s")} % 2147483647)
       |      * (2*g.j + 1) + g.j*g.j) % 2147483647)
       |      AS sig
       |  FROM ldoc, unnest(sh) AS u(s), generate_series(0, 11) AS g(j)
       |  GROUP BY doc_id, g.j),
       |lband AS (SELECT doc_id, j // 3 AS b,
       |    md5(CAST(j // 3 AS VARCHAR) || '|' ||
       |      string_agg(CAST(sig AS VARCHAR), ',' ORDER BY j)) AS h
       |  FROM lhs GROUP BY doc_id, j // 3),
       |lcand AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
       |  FROM lband a JOIN lband b2
       |    ON a.b = b2.b AND a.h = b2.h AND a.doc_id < b2.doc_id),
       |${duckTokSzCtes("vtok", "vsz", rel)},
       |vinter AS (SELECT c.id_a, c.id_b, count(*) AS i
       |  FROM lcand c
       |  JOIN vtok ta ON ta.id = c.id_a
       |  JOIN vtok tb ON tb.id = c.id_b AND tb.t = ta.t
       |  GROUP BY c.id_a, c.id_b),
       |vpairs AS (SELECT id_a, id_b,
       |    CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
       |  FROM vinter
       |  JOIN vsz sa ON sa.id = id_a
       |  JOIN vsz sb ON sb.id = id_b
       |  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= $threshold)"""
      .stripMargin

  /** DuckDB CTE chain replaying [[graft.pipeline.Dedup
    * .lshVerifiedPairsAgainst]] — the TWO-SIDED resemblance gate
    * (arrivals `newRel` probed against corpus `corpusRel`, both
    * exposing doc_id/text; portable md5 MinHash, k=12 / 4 bands /
    * 3-shingles). Emits `gpairs` with (id_new, id_corpus, jaccard) for
    * exact Jaccard >= threshold on cross-side band collisions. */
  private def duckLshGateCtes(newRel: String, corpusRel: String,
                              threshold: Double): String = {
    def bandCtes(rel: String, p: String): String =
      s"""${p}doc AS (SELECT doc_id,
         |    list_distinct(list_transform(
         |      generate_series(0, greatest(len(toks) - 3, 0)),
         |      i -> array_to_string(toks[i+1:i+3], ' '))) AS sh
         |  FROM (SELECT doc_id, str_split(text, ' ') AS toks
         |        FROM $rel) t),
         |${p}hs AS (SELECT doc_id, g.j,
         |    min(((${duckHash60("u.s")} % 2147483647)
         |      * (2*g.j + 1) + g.j*g.j) % 2147483647)
         |      AS sig
         |  FROM ${p}doc, unnest(sh) AS u(s), generate_series(0, 11) AS g(j)
         |  GROUP BY doc_id, g.j),
         |${p}band AS (SELECT doc_id, j // 3 AS b,
         |    md5(CAST(j // 3 AS VARCHAR) || '|' ||
         |      string_agg(CAST(sig AS VARCHAR), ',' ORDER BY j)) AS h
         |  FROM ${p}hs GROUP BY doc_id, j // 3)""".stripMargin
    s"""${bandCtes(newRel, "gn")},
       |${bandCtes(corpusRel, "gc")},
       |gcand AS (SELECT DISTINCT a.doc_id AS id_new,
       |    b2.doc_id AS id_corpus
       |  FROM gnband a JOIN gcband b2 ON a.b = b2.b AND a.h = b2.h),
       |${duckTokSzCtes("gntok", "gnsz", newRel)},
       |${duckTokSzCtes("gctok", "gcsz", corpusRel)},
       |ginter AS (SELECT c.id_new, c.id_corpus, count(*) AS i
       |  FROM gcand c
       |  JOIN gntok ta ON ta.id = c.id_new
       |  JOIN gctok tb ON tb.id = c.id_corpus AND tb.t = ta.t
       |  GROUP BY c.id_new, c.id_corpus),
       |gpairs AS (SELECT id_new, id_corpus,
       |    CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
       |  FROM ginter
       |  JOIN gnsz sa ON sa.id = id_new
       |  JOIN gcsz sb ON sb.id = id_corpus
       |  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= $threshold)"""
      .stripMargin
  }

  /** The d35/d37/d41 fragment probes: 12-token slices of every 97th
    * long document, re-keyed past the corpus ids. */
  private def containmentFrags(docs: DataFrame): DataFrame =
    docs
      .filter(pmod(col("doc_id"), lit(97L)) === 0 &&
        size(split(col("text"), " ")) >= 40)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat_ws(" ", slice(split(col("text"), " "), 9, 12))
          .as("text"))

  /** [[containmentFrags]]'s oracle twin, as a bare SELECT. */
  private lazy val duckFragSelect: String =
    """SELECT doc_id + 1000000 AS doc_id,
      |    array_to_string(str_split(text, ' ')[9:20], ' ') AS text
      |  FROM documents
      |  WHERE doc_id % 97 = 0
      |    AND len(str_split(text, ' ')) >= 40""".stripMargin

  /** CTE `name`: each `rel` doc's distinct word 3-gram shingles
    * (id, sh) — the prefix-containment oracles' shingle set. */
  private def duckShingleCte(name: String, rel: String): String =
    s"""$name AS (SELECT doc_id AS id, unnest(list_distinct(
       |    list_transform(
       |      generate_series(0, greatest(len(toks) - 3, 0)),
       |      i -> array_to_string(toks[i+1:i+3], ' ')))) AS sh
       |  FROM (SELECT doc_id, str_split(text, ' ') AS toks
       |        FROM $rel) t)""".stripMargin

  /** CTEs `tok` (id, t: each distinct token) and `sz` (id, n: the
    * distinct-token count) over `rel`'s (doc_id, text) — the exact
    * token-set verify step every Jaccard/containment oracle shares. */
  private def duckTokSzCtes(tok: String, sz: String, rel: String): String =
    s"""$tok AS (SELECT doc_id AS id,
       |    unnest(list_distinct(str_split(text, ' '))) AS t
       |  FROM $rel),
       |$sz AS (SELECT doc_id AS id,
       |    len(list_distinct(str_split(text, ' '))) AS n
       |  FROM $rel)""".stripMargin

  /** d37/d41's shared oracle: [[containmentFrags]] probed against the
    * whole corpus at containment threshold `t` — each fragment's
    * ((1 − t)·1e6·nsh) div 1e6 + 3 rarest shingles (integer micro-units)
    * against the corpus shingle index, then exact token containment
    * both ways. */
  private def duckContainmentGateSql(t: Double): String = {
    val tMicro = math.round(t * 1e6)
    s"""WITH frag AS (
       |  $duckFragSelect),
       |${duckShingleCte("fsh", "frag")},
       |${duckShingleCte("gsh", "documents")},
       |gdf AS (SELECT sh, count(*) AS df FROM gsh GROUP BY sh),
       |fnsh AS (SELECT id, count(*) AS nsh FROM fsh GROUP BY id),
       |fpre AS (SELECT id, sh, nsh AS pnsh FROM (
       |    SELECT fsh.id, fsh.sh,
       |      row_number() OVER (PARTITION BY fsh.id
       |        ORDER BY COALESCE(gdf.df, 0), fsh.sh) AS rk,
       |      fnsh.nsh
       |    FROM fsh LEFT JOIN gdf USING (sh)
       |    JOIN fnsh ON fnsh.id = fsh.id) r
       |  WHERE rk <= (${1000000 - tMicro} * nsh) // 1000000 + 3),
       |gnsh AS (SELECT id, count(*) AS nsh FROM gsh GROUP BY id),
       |gcand AS (SELECT DISTINCT p.id AS id_a, x.id AS id_b
       |  FROM fpre p JOIN gsh x ON x.sh = p.sh
       |  JOIN gnsh xn ON xn.id = x.id
       |    AND xn.nsh * 1000000 >= $tMicro * p.pnsh - 1000000),
       |${duckTokSzCtes("ftok", "fsz", "frag")},
       |${duckTokSzCtes("gtok", "gsz", "documents")},
       |ginter AS (SELECT c.id_a, c.id_b, count(*) AS i
       |  FROM gcand c
       |  JOIN ftok ta ON ta.id = c.id_a
       |  JOIN gtok tb ON tb.id = c.id_b AND tb.t = ta.t
       |  GROUP BY c.id_a, c.id_b),
       |gc AS (SELECT id_a, id_b,
       |    ROUND(CAST(i AS DOUBLE) / sa.n, 6) AS c_ab,
       |    ROUND(CAST(i AS DOUBLE) / sb.n, 6) AS c_ba
       |  FROM ginter
       |  JOIN fsz sa ON sa.id = id_a
       |  JOIN gsz sb ON sb.id = id_b)
       |SELECT id_a, id_b, c_ab, c_ba FROM gc
       |WHERE c_ab >= $t OR c_ba >= $t
       |ORDER BY id_a, id_b LIMIT 2000""".stripMargin
  }

  /** The two-sample drift oracles' pinned-reference split: value
    * counts of source src0 (`a`) and of the rest (`b`) full-outer
    * joined over the value domain (`g`: v, ca, cb) — the SQL twin of
    * Eval.referenceValueCounts + the *AgainstReference join. */
  private lazy val duckRefCountsCtes: String =
    """a AS (SELECT n_chars AS v,
      |    CAST(count(*) AS BIGINT) AS ca
      |  FROM documents WHERE source = 'src0' GROUP BY 1),
      |b AS (SELECT n_chars AS v,
      |    CAST(count(*) AS BIGINT) AS cb
      |  FROM documents WHERE source <> 'src0' GROUP BY 1),
      |g AS (SELECT COALESCE(a.v, b.v) AS v,
      |    COALESCE(a.ca, 0) AS ca, COALESCE(b.cb, 0) AS cb
      |  FROM a FULL OUTER JOIN b ON a.v = b.v)""".stripMargin

  /** The q45/q49 KS statistic over a value-count CTE `g` (v, ca, cb):
    * max integer CDF gap, one floor division at the end. */
  private lazy val duckKsTail: String =
    """c AS (SELECT v, sum(ca) OVER (ORDER BY v) AS cum_a,
      |    sum(cb) OVER (ORDER BY v) AS cum_b
      |  FROM g),
      |t AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
      |    CAST(sum(cb) AS BIGINT) AS nb,
      |    CAST(count(*) AS BIGINT) AS nvals
      |  FROM g),
      |d AS (SELECT CAST(max(abs(cum_a * nb - cum_b * na))
      |      AS BIGINT) AS dnum, na, nb, nvals
      |  FROM c, t GROUP BY na, nb, nvals)
      |SELECT CASE WHEN na > 0 AND nb > 0
      |    THEN (1000000 * dnum) // (na * nb) END AS ks_micro,
      |  na AS n_a, nb AS n_b, nvals AS n_values
      |FROM d""".stripMargin

  /** Events' hourly value-micro buckets: `eb` (key, v) and `bb` (key,
    * c, s) with the hour bucket named `key` — the prefix of the series
    * ([[duckSeriesCtes]]) and CUSUM oracles. */
  private def duckHourlySums(key: String): String =
    s"""eb AS (SELECT
       |    epoch_us(ts) // 3600000000 AS $key,
       |    CAST(round(value * 1e6) AS HUGEINT) AS v
       |  FROM events
       |  WHERE ts IS NOT NULL AND value IS NOT NULL
       |    AND NOT isnan(value)),
       |bb AS (SELECT $key, CAST(count(*) AS HUGEINT) AS c,
       |    coalesce(sum(v), 0) AS s
       |  FROM eb GROUP BY $key)""".stripMargin

  /** CTE `name`: the CUSUM walk over bucket relation `rel` (bucket, c,
    * s) — running and total count/sum plus the bucket count. */
  private def duckCusumWalk(name: String, rel: String): String =
    s"""$name AS (SELECT bucket,
       |    sum(c) OVER (ORDER BY bucket) AS cc,
       |    sum(s) OVER (ORDER BY bucket) AS cs,
       |    sum(c) OVER () AS tc,
       |    sum(s) OVER () AS ts_,
       |    CAST(count(*) OVER () AS BIGINT) AS nb
       |  FROM $rel)""".stripMargin

  /** CTE `name`: the max-|CUSUM| split of walk `walk`, ties to the
    * earliest bucket. */
  private def duckCusumSplit(name: String, walk: String): String =
    s"""$name AS (SELECT bucket AS cp_bucket, nb,
       |    tc * cs - ts_ * cc AS d
       |  FROM $walk ORDER BY abs(tc * cs - ts_ * cc) DESC,
       |    bucket ASC LIMIT 1)""".stripMargin

  /** The CUSUM change-point oracle — shared VERBATIM by q80 (one-shot)
    * and q81 (stream replay): the replay's contract IS equality with
    * the one-shot. */
  private lazy val duckCusumSql: String =
    s"""WITH ${duckHourlySums("bucket")},
       |${duckCusumWalk("cw", "bb")},
       |dd AS (SELECT bucket, nb,
       |    tc * cs - ts_ * cc AS d
       |  FROM cw)
       |SELECT bucket AS cp_bucket, nb AS n_buckets,
       |  CAST(d AS DOUBLE) AS cusum
       |FROM dd
       |ORDER BY abs(d) DESC, bucket ASC
       |LIMIT 1""".stripMargin

  /** llm_clean_pipeline/llm_clean_cc's shared prefix: the quality
    * filter, exact dedup (min id per text) and the LSH-verified
    * near-dup pairs `vpairs` at 0.6 over the survivors. */
  private lazy val duckCleanCtes: String =
    s"""q AS (
       |  SELECT doc_id, text, lang, source,
       |    str_split(text, ' ') AS toks
       |  FROM documents),
       |qs AS (
       |  SELECT doc_id, text, lang, source, len(toks) AS n,
       |    len(list_distinct(toks)) AS nd,
       |    len(list_filter(toks, x -> x IN
       |      ('the','a','an','and','of','to','in','is'))) AS en
       |  FROM q),
       |quality AS (
       |  SELECT doc_id, text, lang, source FROM qs
       |  WHERE n >= 10 AND n <= 100000 AND nd / CAST(n AS DOUBLE) > 0.1
       |    AND en / CAST(n AS DOUBLE) < 0.5),
       |exact AS (
       |  SELECT * FROM quality
       |  WHERE doc_id IN (SELECT min(doc_id) FROM quality GROUP BY text)),
       |${duckLshVerifiedCtes("exact", 0.6)}""".stripMargin

  /** The one-way ANOVA F tail over `ad` (g, v): per-group moments,
    * micro-quantized between-group terms, one mirrored division —
    * q87 runs it on the values, q89 (Brown–Forsythe) on the absolute
    * deviations from the group median; `stat` names the output. */
  private def duckAnovaTail(stat: String): String =
    s"""ag AS (SELECT g, CAST(count(*) AS HUGEINT) AS ng,
       |    coalesce(sum(v), 0) AS sg,
       |    coalesce(sum(v * v), 0) AS qg
       |  FROM ad GROUP BY g),
       |at2 AS (SELECT g, ng, sg, qg,
       |    CAST(ROUND(1e6 * (CAST(sg AS DOUBLE) / ng)
       |      * (CAST(sg AS DOUBLE) / ng) * ng) AS HUGEINT)
       |      AS term FROM ag),
       |aa AS (SELECT CAST(count(*) AS BIGINT) AS k,
       |    CAST(sum(ng) AS BIGINT) AS n,
       |    coalesce(sum(qg), 0) AS ssq,
       |    coalesce(sum(sg), 0) AS s,
       |    coalesce(sum(term), 0) AS sumterm FROM at2)
       |SELECT k AS k_groups, n, k - 1 AS df1, n - k AS df2,
       |  CASE WHEN k >= 2 AND n > k
       |    AND (1000000 * ssq - sumterm) > 0 THEN
       |    ROUND((CAST(sumterm - CAST(ROUND(1e6
       |        * (CAST(s AS DOUBLE) / n)
       |        * (CAST(s AS DOUBLE) / n) * n) AS HUGEINT)
       |        AS DOUBLE) / (k - 1))
       |      / (CAST(1000000 * ssq - sumterm AS DOUBLE)
       |        / (n - k)), 6)
       |  ELSE NULL END AS $stat
       |FROM aa""".stripMargin

  /** Three synchronous label-propagation rounds over the symmetric
    * edge CTE `${p}ed` (own id first, then the most frequent neighbour
    * label, ties to the smallest): emits `${p}l0`…`${p}l3`, the oracle
    * twin of GraphOps.labelPropagation(rounds = 3). */
  private def duckLpaCtes(p: String): String =
    (s"${p}l0 AS (SELECT DISTINCT src AS id, src AS label FROM ${p}ed)" +:
      (1 to 3).map { r =>
        s"""${p}c$r AS (SELECT e.src, l.label, count(*) AS cnt
           |  FROM ${p}ed e JOIN ${p}l${r - 1} l ON e.dst = l.id
           |  GROUP BY e.src, l.label),
           |${p}l$r AS (SELECT src AS id, label FROM (
           |    SELECT src, label, row_number() OVER (
           |      PARTITION BY src ORDER BY cnt DESC, label ASC)
           |      AS rn FROM ${p}c$r) w$r WHERE rn = 1)""".stripMargin
      }).mkString(",\n")

  /** d71/d74's shared epoch plan for a `targetN`-document
    * sqrt-tempered source mix: per-source size, target count, whole
    * epochs and the remainder rate in ppm (`me`) — the SQL twin of
    * Curation.mixEpochPlan. */
  private def duckMixEpochCtes(targetN: Int): String =
    s"""mc AS (SELECT source,
       |    CAST(count(*) AS BIGINT) AS n_in
       |  FROM documents WHERE source IS NOT NULL
       |  GROUP BY source),
       |ms AS (SELECT source, n_in,
       |    CAST(round(1e6 * sqrt(CAST(n_in AS DOUBLE)))
       |      AS BIGINT) AS sm FROM mc),
       |mt AS (SELECT CAST(sum(sm) AS HUGEINT) AS stot FROM ms),
       |mr AS (SELECT source, n_in,
       |    CAST(round(CAST($targetN * CAST(sm AS HUGEINT)
       |        AS DOUBLE) / CAST(stot AS DOUBLE)) AS BIGINT)
       |      AS target_ct
       |  FROM ms, mt),
       |me AS (SELECT source, n_in, target_ct,
       |    CAST(target_ct // n_in AS BIGINT) AS epochs,
       |    CAST(round(1e6 * CAST(target_ct % n_in AS DOUBLE)
       |      / CAST(n_in AS DOUBLE)) AS BIGINT)
       |      AS rem_rate_ppm
       |  FROM mr)""".stripMargin

  /** d62/d63's shared span derivation: 13-word grams seen in two or
    * more documents, their positions chained while the gap is at
    * most 13 (`spans`: doc_id, span_start, span_end over `t`'s toks)
    * — the SQL twin of Dedup.dupSpans(n = 13). */
  private lazy val duckDupSpanCtes: String =
    s"""${duckPosGramCtes(13)},
      |dup AS (SELECT gram FROM pg GROUP BY gram
      |  HAVING min(doc_id) <> max(doc_id)),
      |ds AS (SELECT doc_id, pos FROM pg JOIN dup USING (gram)),
      |fl AS (SELECT doc_id, pos, CASE WHEN pos > lag(pos) OVER
      |    (PARTITION BY doc_id ORDER BY pos) + 13
      |  THEN 1 ELSE 0 END AS f FROM ds),
      |gr AS (SELECT doc_id, pos, SUM(f) OVER (
      |    PARTITION BY doc_id ORDER BY pos
      |    ROWS UNBOUNDED PRECEDING) AS grp FROM fl),
      |spans AS (SELECT doc_id, MIN(pos) AS span_start,
      |    MAX(pos) + 12 AS span_end
      |  FROM gr GROUP BY doc_id, grp)""".stripMargin

  /** The q17/q17b/q17c per-flag quartile summary: count and rounded
    * mean price per (l_returnflag, quartile). */
  private def quartileStats(tiled: DataFrame): DataFrame =
    tiled
      .groupBy("l_returnflag", "quartile").agg(
        count(lit(1)).as("n"),
        round(avg(col("l_extendedprice")), 6).as("avg_price"))
      .orderBy("l_returnflag", "quartile")

  /** q17b/q17c: the bucketed ntile(4) of lineitem's price per flag,
    * summarized by [[quartileStats]]. */
  private def bucketedQuartiles(s: SparkSession, dir: String,
                                balanced: Boolean): DataFrame =
    quartileStats(graft.ops.DistributedRank.bucketedNtile(
        lineitem(s, dir).select(col("l_returnflag"),
          col("l_extendedprice"), col("l_orderkey"), col("l_linenumber")),
        "l_returnflag", "l_extendedprice",
        Seq("l_orderkey", "l_linenumber"), nTiles = 4,
        balanced = balanced)
      .select(col("l_returnflag"), col("ntile").as("quartile"),
        col("l_extendedprice")))

  /** The q17 family's shared oracle: ONE text because the bucketed
    * and balanced ntiles must equal the windowed one. */
  private lazy val duckNtileSql: String =
    """WITH t AS (SELECT l_returnflag,
      |    CAST(ntile(4) OVER (PARTITION BY l_returnflag
      |      ORDER BY l_extendedprice, l_orderkey, l_linenumber)
      |      AS BIGINT) AS quartile,
      |    l_extendedprice
      |  FROM lineitem)
      |SELECT l_returnflag, quartile, count(*) AS n,
      |  ROUND(avg(l_extendedprice), 6) AS avg_price
      |FROM t GROUP BY l_returnflag, quartile
      |ORDER BY l_returnflag, quartile""".stripMargin

  /** The q74/q96 paired-classifier prefix: d3's langid CASE replayed
    * per labelled doc — `p` holds the truth (lang = 'en'), the full
    * heuristic's call `pa` and the stopword-only call `pb`; callers
    * close the SELECT (q96 adds a third predictor). */
  private lazy val duckLangIdPredCtes: String =
    """t AS (SELECT lang, str_split(text, ' ') AS toks,
      |    length(regexp_replace(text, '[^\x{4e00}-\x{9fff}]',
      |      '', 'g')) AS cjk,
      |    length(text) AS lc
      |  FROM documents
      |  WHERE text IS NOT NULL AND lang IS NOT NULL),
      |s AS (SELECT lang, cjk, lc,
      |    len(list_filter(toks, x -> x IN
      |      ('the','a','an','and','of','to','in','is'))) AS en,
      |    len(list_filter(toks, x -> x IN
      |      ('el','la','los','de','y','en','es','un'))) AS es,
      |    len(list_filter(toks, x -> x IN
      |      ('le','la','les','et','de','un','une','est'))) AS fr,
      |    len(list_filter(toks, x -> x IN
      |      ('der','die','das','und','ein','ist','zu','von')))
      |      AS de
      |  FROM t),
      |p AS (SELECT (lang = 'en') AS truth,
      |    (CASE WHEN cjk * 3 > lc THEN 'zh'
      |          WHEN en >= es AND en >= fr AND en >= de
      |            AND en > 0 THEN 'en'
      |          WHEN es >= fr AND es >= de AND es > 0 THEN 'es'
      |          WHEN fr >= de AND fr > 0 THEN 'fr'
      |          WHEN de > 0 THEN 'de'
      |          ELSE 'und' END = 'en') AS pa,
      |    (en > 0) AS pb""".stripMargin

  /** Embedding row 0, fetched to the driver as the query vector. */
  private def vec0(emb: DataFrame): Seq[Double] =
    emb.filter(col("vec_id") === 0).select(col("embedding"))
      .head().getSeq[Float](0).map(_.toDouble)

  /** The sign-LSH hyperplanes: embedding rows 1-4. */
  private def signPlanes(emb: DataFrame): Seq[Seq[Double]] =
    Similarity.vectorsByIds(emb, "vec_id", "embedding",
      Seq(1L, 2L, 3L, 4L))

  /** The e4/e5/e16 IVF probe: rows 1-16 as centroids, the 2 cells
    * nearest query row 0, and each vector's best cell (`asg`: rn = 1,
    * ties to the smaller cid). */
  private lazy val duckIvfProbeCtes: String =
    """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings),
      |c AS (SELECT vec_id AS cid, v AS cv FROM e
      |  WHERE vec_id BETWEEN 1 AND 16),
      |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
      |probe AS (SELECT cid FROM c, q
      |  ORDER BY list_dot_product(cv, qv) DESC, cid LIMIT 2),
      |asg AS (SELECT vec_id, cid, row_number() OVER (
      |      PARTITION BY vec_id
      |      ORDER BY dt DESC, cid ASC) AS rn
      |  FROM (SELECT e.vec_id, c.cid,
      |          list_dot_product(e.v, c.cv) AS dt FROM e, c))""".stripMargin

  /** The IVF oracles' rerank: exact cosine to row 0 over the probed
    * candidates `cand` (vec_id, cell), top 20. */
  private lazy val duckIvfRerankTail: String =
    """s AS (SELECT cand.vec_id, cand.cell,
      |    list_dot_product(e.v, q.qv)
      |      / (sqrt(list_dot_product(e.v, e.v))
      |         * sqrt(list_dot_product(q.qv, q.qv))) AS cosine
      |  FROM cand JOIN e USING (vec_id), q)
      |SELECT vec_id, ROUND(cosine, 6) AS cosine,
      |  CAST(cell AS BIGINT) AS cell
      |FROM s ORDER BY ROUND(cosine, 6) DESC, vec_id
      |LIMIT 20""".stripMargin

  /** The e4/e5 shared oracle: ONE text because the on-disk index
    * layout must not change the answer. */
  private lazy val duckIvfTopkSql: String =
    s"""WITH $duckIvfProbeCtes,
       |cand AS (SELECT vec_id, cid AS cell FROM asg
       |  WHERE rn = 1 AND cid IN (SELECT cid FROM probe)),
       |$duckIvfRerankTail""".stripMargin

  /** e3/e11's sign-LSH buckets over the unit-normalized vectors
    * (`nrm`: vec_id, nv; `b`: vec_id, bucket). */
  private lazy val duckNrmBucketCtes: String =
    """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings),
      |nrm AS (SELECT vec_id,
      |    list_transform(v, x -> x / sqrt(list_dot_product(v, v)))
      |      AS nv
      |  FROM e),
      |p AS (SELECT vec_id AS pid, v AS pv FROM e
      |  WHERE vec_id BETWEEN 1 AND 4),
      |b AS (SELECT nrm.vec_id,
      |    CAST(SUM(CASE WHEN list_dot_product(nrm.nv, p.pv) > 0
      |      THEN (CAST(1 AS BIGINT) << (p.pid - 1)) ELSE 0 END)
      |      AS BIGINT) AS bucket
      |  FROM nrm, p GROUP BY nrm.vec_id)""".stripMargin

  /** The ANN oracles' sign-LSH buckets over the raw vectors (`b`:
    * vec_id, bucket; planes = [[signPlanes]]). */
  private lazy val duckAnnBucketCtes: String =
    """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings),
      |p AS (SELECT vec_id AS pid, v AS pv FROM e
      |  WHERE vec_id BETWEEN 1 AND 4),
      |b AS (SELECT e.vec_id,
      |    CAST(SUM(CASE WHEN list_dot_product(e.v, p.pv) > 0
      |      THEN (CAST(1 AS BIGINT) << (p.pid - 1)) ELSE 0 END)
      |      AS BIGINT) AS bucket
      |  FROM e, p GROUP BY e.vec_id)""".stripMargin

  /** e2/e7's oracle: top-20 exact cosine to row 0 among the vectors
    * whose bucket passes `probe` against row 0's bucket `qbucket`. */
  private def duckAnnTopkSql(probe: String): String =
    s"""WITH $duckAnnBucketCtes,
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       |qb AS (SELECT bucket AS qbucket FROM b WHERE vec_id = 0),
       |s AS (SELECT e.vec_id,
       |    list_dot_product(e.v, q.qv)
       |      / (sqrt(list_dot_product(e.v, e.v))
       |         * sqrt(list_dot_product(q.qv, q.qv))) AS cosine,
       |    b.bucket
       |  FROM e JOIN b USING (vec_id), q, qb
       |  WHERE $probe)
       |SELECT vec_id, ROUND(cosine, 6) AS cosine, bucket
       |FROM s ORDER BY ROUND(cosine, 6) DESC, vec_id
       |LIMIT 20""".stripMargin

  /** The BM25 oracles' shared prefix for the query {vector, hash,
    * merge} (k1 = 1.2, b = 0.75): term frequencies `p`, lengths `l`,
    * corpus stats `st` and per-term idf `i`; callers score `sc`. */
  private lazy val duckBm25Ctes: String =
    """p AS (SELECT doc_id AS id, t AS term,
      |    CAST(count(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS t
      |        FROM documents) u
      |  WHERE t IN ('vector', 'hash', 'merge')
      |  GROUP BY id, t),
      |l AS (SELECT doc_id AS id, len(str_split(text, ' ')) AS dl
      |  FROM documents),
      |st AS (SELECT count(*) AS n_docs,
      |    CAST(sum(len(str_split(text, ' '))) AS DOUBLE)
      |      / count(*) AS avgdl
      |  FROM documents),
      |i AS (SELECT term, ln(1.0 + (n_docs - df + 0.5)/(df + 0.5))
      |    AS idf, avgdl
      |  FROM (SELECT term, count(*) AS df FROM p GROUP BY term)
      |  CROSS JOIN st)""".stripMargin

  /** Every embedding's rounded cosine to row 0 (`cs`: id, c). */
  private lazy val duckQ0CosineCtes: String =
    """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings),
      |qv AS (SELECT v AS q FROM e WHERE vec_id = 0),
      |cs AS (SELECT vec_id AS id, ROUND(list_dot_product(v, q)
      |    / (sqrt(list_dot_product(v, v))
      |       * sqrt(list_dot_product(q, q))), 6) AS c
      |  FROM e, qv)""".stripMargin

  /** Three micro-unit PageRank rounds (d = 0.85, integer division of
    * rank by out-degree) over the symmetric edge CTE `ed`: emits `gd`
    * and `gr0`…`gr3` — the oracle twin of GraphOps.pageRankMicro. */
  private def duckPageRankCtes(ed: String): String =
    (s"""gd AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
        |       FROM $ed GROUP BY src),
        |gr0 AS (SELECT src AS id, CAST(1000000 AS BIGINT) AS r
        |        FROM gd)""".stripMargin +:
      (1 to 3).map { r =>
        s"""gr$r AS (SELECT $ed.dst AS id, CAST(150000 +
           |      ROUND(0.85 * SUM(gr${r - 1}.r // gd.deg)) AS BIGINT) AS r
           |    FROM $ed JOIN gr${r - 1} ON gr${r - 1}.id = $ed.src
           |    JOIN gd ON gd.src = $ed.src GROUP BY $ed.dst)""".stripMargin
      }).mkString(",\n")

  /** `t` (doc_id, toks) and `pg`: every `n`-word gram with its
    * 1-based start position. */
  private def duckPosGramCtes(n: Int): String =
    s"""t AS (SELECT doc_id, str_split(text,' ') AS toks
       |  FROM documents),
       |pg AS (SELECT doc_id,
       |    unnest(generate_series(1, greatest(len(toks)-${n - 1}, 0)))
       |      AS pos,
       |    unnest(list_transform(
       |      generate_series(1, greatest(len(toks)-${n - 1}, 0)),
       |      i -> array_to_string(toks[i:i+${n - 1}], ' '))) AS gram
       |  FROM t)""".stripMargin

  /** The winnowing key prefix (k = 4, w = 5) shared by d65's summary
    * and [[duckWinnowPairsSql]] (d66/d68): `sel` holds each doc's
    * distinct window-minimum keys (hash · 2^24 + (2^24 − pos), so
    * ties go to the rightmost gram). */
  private lazy val duckWinnowKeyCtes: String =
    s"""${duckPosGramCtes(4)},
       |ph AS (SELECT doc_id, pos, ${duckHash60("gram")} AS h
       |  FROM pg),
       |ky AS (SELECT doc_id, pos,
       |    CAST(h AS HUGEINT) * 16777216 + (16777216 - pos)
       |      AS key FROM ph),
       |sw AS (SELECT doc_id, pos, MIN(key) OVER (
       |    PARTITION BY doc_id ORDER BY pos
       |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS skey
       |  FROM ky),
       |sel AS (SELECT DISTINCT doc_id, skey FROM sw
       |  WHERE pos >= 5)""".stripMargin

  /** The q64/q69 W1 statistic over a value-count CTE `g` (v, ca, cb):
    * Σ |CDF gap| · (next_v − v) in integers, one floor division. */
  private lazy val duckW1Tail: String =
    """c AS (SELECT v, sum(ca) OVER (ORDER BY v) AS cum_a,
      |    sum(cb) OVER (ORDER BY v) AS cum_b,
      |    lead(v) OVER (ORDER BY v) AS next_v
      |  FROM g),
      |t AS (SELECT CAST(sum(ca) AS HUGEINT) AS na,
      |    CAST(sum(cb) AS HUGEINT) AS nb,
      |    CAST(count(*) AS BIGINT) AS nvals FROM g),
      |w AS (SELECT coalesce(sum(
      |      abs(cum_a * t.nb - cum_b * t.na)
      |      * CAST(next_v - v AS HUGEINT)),
      |    CAST(0 AS HUGEINT)) AS wnum
      |  FROM c, t WHERE next_v IS NOT NULL)
      |SELECT CASE WHEN t.na > 0 AND t.nb > 0
      |    THEN CAST((1000000 * w.wnum) // (t.na * t.nb)
      |      AS BIGINT) ELSE NULL END AS w1_micro,
      |  CAST(t.na AS BIGINT) AS n_a, CAST(t.nb AS BIGINT) AS n_b,
      |  t.nvals AS n_values
      |FROM t, w""".stripMargin

  /** g16/g17's first Louvain level over the staged near-dup pairs:
    * degrees `ldg`, total `ls`, and each node's best positive-gain
    * move to a smaller neighbour (`lpick`, ties to the smaller dst). */
  private lazy val duckLouvainMoveCtes: String =
    s"""${duckLshVerifiedCtes("documents", 0.3)},
       |te AS (SELECT DISTINCT least(id_a, id_b) AS lo,
       |    greatest(id_a, id_b) AS hi
       |  FROM vpairs WHERE id_a <> id_b),
       |led AS (SELECT lo AS src, hi AS dst FROM te
       |       UNION ALL SELECT hi, lo FROM te),
       |ldg AS (SELECT id, CAST(count(*) AS BIGINT) AS deg
       |  FROM (SELECT lo AS id FROM te
       |        UNION ALL SELECT hi FROM te) u GROUP BY id),
       |ls AS (SELECT CAST(sum(deg) AS BIGINT) AS s2m FROM ldg),
       |lmv AS (SELECT e.src, e.dst,
       |    s2m - ds.deg * dd.deg AS gain
       |  FROM led e JOIN ldg ds ON ds.id = e.src
       |            JOIN ldg dd ON dd.id = e.dst, ls
       |  WHERE e.dst < e.src AND s2m - ds.deg * dd.deg > 0),
       |lpick AS (SELECT src, dst, gain FROM (
       |    SELECT src, dst, gain, row_number() OVER (
       |      PARTITION BY src ORDER BY gain DESC, dst ASC)
       |      AS rn FROM lmv) w WHERE rn = 1)""".stripMargin

  /** t9/t11: each purchase's latest strictly-earlier click by the same
    * user, through the as-of join implementation `join`. */
  private def prevClick(s: SparkSession, dir: String)(
      join: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val ev = rawEvents(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
    join(purchases, clicks)
      .select(col("event_id"), col("user_id"),
        col("asof_click_id").cast("long").as("prev_click_id"))
      .orderBy("event_id").limit(1000)
  }

  /** [[prevClick]]'s oracle: ONE text for the generic and the native
    * as-of join. */
  private lazy val duckPrevClickSql: String =
    """WITH w AS (SELECT event_id, user_id, event_type, ts,
      |  last_value(CASE WHEN event_type = 'click' THEN event_id END
      |    IGNORE NULLS) OVER (PARTITION BY user_id
      |    ORDER BY ts,
      |      CASE WHEN event_type = 'click' THEN 1 ELSE 0 END,
      |      event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |    AS prev_click_id
      |  FROM events WHERE event_type IN ('click', 'purchase'))
      |SELECT event_id, user_id,
      |  CAST(prev_click_id AS BIGINT) AS prev_click_id
      |FROM w WHERE event_type = 'purchase'
      |ORDER BY event_id LIMIT 1000""".stripMargin

  /** `rounds` k-core (k = 2) peeling rounds over the undirected edge
    * CTE `te` (lo, hi): round r keeps the edges whose both ends have
    * degree >= 2 in `e(r)` (e0 = te); emits `d0`…`d$rounds`. */
  private def duckKCorePeelCtes(rounds: Int): String = {
    def degrees(r: Int, e: String): String =
      s"""d$r AS (SELECT id, CAST(count(*) AS BIGINT) AS deg
         |  FROM (SELECT lo AS id FROM $e
         |        UNION ALL SELECT hi FROM $e) u GROUP BY id)""".stripMargin
    def edges(r: Int): String = if (r == 0) "te" else s"e$r"
    ((0 until rounds).map { r =>
      val e = edges(r)
      s"""${degrees(r, e)},
         |k$r AS (SELECT id FROM d$r WHERE deg >= 2),
         |e${r + 1} AS (SELECT $e.lo, $e.hi FROM $e
         |  JOIN k$r a ON a.id = $e.lo JOIN k$r b ON b.id = $e.hi)"""
        .stripMargin
    } :+ degrees(rounds, edges(rounds))).mkString(",\n")
  }

  /** o1/k1: the export-misses report (event_id kept), first 1000. */
  private def missReport(s: SparkSession, dir: String): DataFrame =
    ExportMissesQuery
      .run(commits(s, dir), extraCols = Seq("event_id"))
      .limit(1000)

  /** [[missReport]]'s oracle: ONE text, so the CSV round trip (k1)
    * answers exactly what the in-memory report (o1) does. */
  private lazy val duckMissReportSql: String =
    s"""$commitsCte,
       |m AS (SELECT event_id,
       |        source_input_buffer AS 用户输入,
       |        committed_text AS 实际选择,
       |        source_first_candidate AS 程序预测,
       |        selected_candidate_rank AS 选择排名
       |      FROM c WHERE selected_candidate_rank > 0),
       |f AS (SELECT 实际选择, count(*) AS 错误频率 FROM m GROUP BY 实际选择)
       |SELECT m.*, f.错误频率 FROM m JOIN f USING (实际选择)
       |ORDER BY f.错误频率 DESC, m.用户输入 ASC, m.实际选择 ASC,
       |  m.选择排名 ASC, m.event_id ASC
       |LIMIT 1000""".stripMargin

  /** q9/q12's shared oracle: per-flag top-20 quantities with rank and
    * dense rank (one text for the window and the TopK aggregate). */
  private lazy val duckQtyRankSql: String =
    """SELECT l_returnflag, l_orderkey, l_linenumber,
      |  CAST(rank() OVER w AS BIGINT) AS qty_rank,
      |  CAST(dense_rank() OVER w AS BIGINT) AS qty_dense_rank
      |FROM lineitem
      |WINDOW w AS (PARTITION BY l_returnflag
      |  ORDER BY l_quantity DESC, l_orderkey ASC, l_linenumber ASC)
      |QUALIFY qty_rank <= 20
      |ORDER BY l_returnflag, qty_rank, l_orderkey, l_linenumber
      |LIMIT 100""".stripMargin

  /** e3/e11/curation's semantic-dup drop set: `dr` = every vector with
    * a smaller-id same-bucket neighbour at rounded cosine > 0.4. */
  private lazy val duckSemDupCtes: String =
    s"""$duckNrmBucketCtes,
       |dr AS (SELECT DISTINCT c.vec_id AS did
       |  FROM b a JOIN b c ON a.bucket = c.bucket
       |    AND a.vec_id < c.vec_id
       |  JOIN nrm na ON na.vec_id = a.vec_id
       |  JOIN nrm nc ON nc.vec_id = c.vec_id
       |  WHERE ROUND(list_dot_product(na.nv, nc.nv), 6) > 0.4)""".stripMargin

  /** d24/d27's cross-document 13-gram stats: per doc its distinct
    * grams (`tot`: n_grams) and how many also occur in another doc
    * (`dup`: n_dup_grams). */
  private lazy val duckDupGramCtes: String =
    """t AS (SELECT doc_id, str_split(text,' ') AS toks
      |  FROM documents),
      |ga AS (SELECT doc_id, list_distinct(list_transform(
      |    generate_series(1, greatest(len(toks)-12, 0)),
      |    i -> array_to_string(toks[i:i+12], ' '))) AS gs FROM t),
      |g AS (SELECT doc_id, unnest(gs) AS gram FROM ga),
      |dfr AS (SELECT gram, count(*) AS df FROM g GROUP BY gram),
      |dup AS (SELECT doc_id, CAST(count(*) AS BIGINT)
      |    AS n_dup_grams
      |  FROM g JOIN dfr USING (gram) WHERE df > 1
      |  GROUP BY doc_id),
      |tot AS (SELECT doc_id, CAST(len(gs) AS BIGINT) AS n_grams
      |  FROM ga)""".stripMargin

  /** The weighted-median tail over `s` (v, w): the smallest v whose
    * cumulative weight reaches ⌈0.5 · total⌉. */
  private lazy val duckWeightedMedianTail: String =
    """t AS (SELECT CAST(sum(w) AS BIGINT) AS wt FROM s),
      |kx AS (SELECT wt, greatest(CAST(1 AS BIGINT),
      |    CAST(ceil(CAST(0.5 AS DOUBLE) * wt) AS BIGINT)) AS k
      |  FROM t),
      |c AS (SELECT v, CAST(sum(w) OVER (ORDER BY v
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS BIGINT) AS cw
      |  FROM s)
      |SELECT (SELECT min(v) FROM c, kx WHERE c.cw >= kx.k)
      |    AS value,
      |  wt AS w_total, k FROM kx""".stripMargin

  /** q73/q77's Mann–Whitney ranks on lineitem price, open vs the rest:
    * value-distinct counts `vv` with doubled mid-ranks `r2` (`r`). */
  private lazy val duckMwRankCtes: String =
    """d AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v,
      |    (l_linestatus = 'O') AS a
      |  FROM lineitem
      |  WHERE l_extendedprice IS NOT NULL
      |    AND l_linestatus IS NOT NULL),
      |vv AS (SELECT v, CAST(count(*) AS HUGEINT) AS c,
      |    CAST(count(*) FILTER (WHERE a) AS HUGEINT) AS ca
      |  FROM d GROUP BY v),
      |r AS (SELECT v, c, ca,
      |    2 * (sum(c) OVER (ORDER BY v) - c) + c + 1 AS r2
      |  FROM vv)""".stripMargin

  /** The Mann–Whitney output columns from (n, na, ra2, t): sizes, the
    * doubled U of side a, the tie term and the tie-corrected z. */
  private lazy val duckMwZCols: String =
    """CAST(na AS BIGINT) AS n_a,
      |  CAST(n - na AS BIGINT) AS n_b,
      |  CAST(ra2 - na * (na + 1) AS BIGINT) AS u2_a,
      |  CAST(t AS BIGINT) AS tie_t,
      |  CASE WHEN n < 2 THEN NULL ELSE
      |    ROUND(CAST(ra2 - na * (na + 1) - na * (n - na)
      |        AS DOUBLE) /
      |      nullif(sqrt(CAST(na * (n - na) AS DOUBLE)
      |        * CAST(n * n * n - n - t AS DOUBLE)
      |        / CAST(3 * n * (n - 1) AS DOUBLE)), 0.0), 6)
      |  END AS z""".stripMargin

  /** The embedding co-moment chain shared by e17 (the covariance
    * report) and [[duckDominantDirSqlWith]]: micro-quantized
    * coordinates `fl`, upper-triangle products `pr`, and per-(i, j)
    * count/sums `ag`. */
  private lazy val duckCovMomentCtes: String =
    """e AS (SELECT vec_id,
      |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |fl AS (SELECT vec_id, CAST(t.i - 1 AS BIGINT) AS i,
      |    CAST(round(v[t.i] * 1e6) AS BIGINT) AS x
      |  FROM e, unnest(generate_series(1, len(v))) AS t(i)),
      |pr AS (SELECT a.i, b.i AS j, CAST(a.x AS HUGEINT) AS x,
      |    CAST(b.x AS HUGEINT) AS y
      |  FROM fl a JOIN fl b
      |    ON a.vec_id = b.vec_id AND a.i <= b.i),
      |ag AS (SELECT i, j, CAST(count(*) AS BIGINT) AS n_vecs,
      |    coalesce(sum(x), 0) AS sx,
      |    coalesce(sum(y), 0) AS sy,
      |    coalesce(sum(x * y), 0) AS sxy
      |  FROM pr GROUP BY i, j)""".stripMargin

  /** Five unrolled power-iteration steps over the symmetric matrix
    * `fm` (i, j, c) from `v0`: exact HUGEINT matvec, exact max-abs,
    * one double division per component (`w1`…`w5`, `m1`…`m5`,
    * `v1`…`v5`). */
  private lazy val duckPowerSteps: String =
    (1 to 5).map { t =>
      s"""w$t AS (SELECT fm.i AS j,
         |    sum(CAST(fm.c AS HUGEINT) * vp.v) AS w
         |  FROM fm JOIN v${t - 1} vp ON vp.j = fm.j GROUP BY fm.i),
         |m$t AS (SELECT max(abs(w)) AS m FROM w$t),
         |v$t AS (SELECT j, CAST(round(1e6 * (CAST(w AS DOUBLE)
         |    / CAST(m AS DOUBLE))) AS BIGINT) AS v FROM w$t, m$t)""".stripMargin
    }.mkString(",\n")

  /** d45/d48: the 8 serpentine shards of `documents` by word count. */
  private def serpentineShards(s: SparkSession, dir: String): DataFrame =
    Curation.serpentineShards(table(s, dir, "documents"),
      "doc_id", size(split(col("text"), " ")).cast("long"), nShards = 8)

  /** [[serpentineShards]]' oracle: ONE text, so the partitioned
    * export round trip (d48) answers exactly what the report (d45)
    * does. */
  private lazy val duckSerpentineSql: String =
    """WITH w AS (SELECT doc_id,
      |    CAST(len(str_split(text, ' ')) AS BIGINT) AS wt
      |  FROM documents),
      |r AS (SELECT doc_id, wt, CAST(row_number() OVER
      |    (ORDER BY wt DESC, doc_id ASC) AS BIGINT) AS rn
      |  FROM w),
      |a AS (SELECT wt, CASE WHEN (rn - 1) % 16 < 8
      |    THEN (rn - 1) % 16
      |    ELSE 15 - ((rn - 1) % 16) END AS shard
      |  FROM r)
      |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(wt) AS BIGINT) AS total_weight
      |FROM a GROUP BY shard ORDER BY shard""".stripMargin

  /** The KLL audits' verdict columns over (n, n_lt, n_le): the target
    * rank ⌈q·n⌉ for the permille `q` (a literal or a column name), the
    * distance of the estimate's rank interval (n_lt, n_le] from it,
    * and the 8n/k acceptance bound. */
  private def withRankErr(df: DataFrame, q: String, k: Int): DataFrame =
    df.withColumn("target_rank", least(col("n"),
        greatest(lit(1L), expr(s"($q * n + 999) div 1000"))))
      .withColumn("rank_err",
        when(col("target_rank").between(col("n_lt") + 1L, col("n_le")),
          0L)
          .otherwise(least(abs(col("target_rank") - col("n_lt") - 1L),
            abs(col("target_rank") - col("n_le")))))
      .withColumn("bound",
        greatest(lit(2L), expr(s"(8 * n + ${k - 1}) div $k")))

  /** The weighted KLL audits' rank interval of `est_chars` over (v, w):
    * total weight and the weight strictly below / at most the
    * estimate. */
  private def weightedRankCounts: Seq[Column] = Seq(
    coalesce(sum(col("w")), lit(0L)).as("n"),
    coalesce(sum(when(col("v") < col("est_chars"), col("w"))
      .otherwise(0L)), lit(0L)).as("n_lt"),
    coalesce(sum(when(col("v") <= col("est_chars"), col("w"))
      .otherwise(0L)), lit(0L)).as("n_le"))

  /** A fetched sketch's five audited quantiles (permille, estimate) and
    * its retained-item count. */
  private def kllEstimates(st: graft.functions.KllState)
      : (Seq[(Long, Long)], Long) = {
    import graft.functions.KllSketch
    (Seq(10L, 250L, 500L, 750L, 990L)
       .map(q => (q, KllSketch.quantileOf(st, q).getOrElse(0L))),
     KllSketch.numRetained(st).toLong)
  }

  /** d33/q51: the lang × source contingency cells `o` joined to their
    * row and column totals (rt, ct), and the corpus size n (one
    * driver count). */
  private def langSourceCells(s: SparkSession, dir: String)
      : (DataFrame, Double) = {
    val docs = table(s, dir, "documents")
    val n = docs.count().toDouble
    val cells = docs.groupBy("lang", "source")
      .agg(count(lit(1)).as("o"))
    val rows = docs.groupBy("lang").agg(count(lit(1)).as("rt"))
    val cols = docs.groupBy("source").agg(count(lit(1)).as("ct"))
    (cells.join(broadcast(rows), "lang").join(broadcast(cols), "source"),
     n)
  }

  /** [[langSourceCells]]' oracle twin: n, cells `c`, row totals `r`,
    * column totals `k`. */
  private lazy val duckLangSourceCtes: String =
    """n AS (SELECT CAST(count(*) AS DOUBLE) AS n
      |  FROM documents),
      |c AS (SELECT lang, source, CAST(count(*) AS DOUBLE) AS o
      |  FROM documents GROUP BY lang, source),
      |r AS (SELECT lang, CAST(count(*) AS DOUBLE) AS rt
      |  FROM documents GROUP BY lang),
      |k AS (SELECT source, CAST(count(*) AS DOUBLE) AS ct
      |  FROM documents GROUP BY source)""".stripMargin

  /** The analyze block's three rate columns over the commits CTE `c`
    * (a6 reports them alone, q_analyze_metrics with the counts). */
  private lazy val duckHitRateCols: String =
    """  ROUND(count(CASE WHEN selected_candidate_rank = 0 THEN 1 END)
      |    / CAST(count(CASE WHEN selected_candidate_rank >= 0 THEN 1
      |      END) AS DOUBLE), 6) AS first_choice_hit_rate,
      |  ROUND(count(CASE WHEN selected_candidate_rank >= 0
      |      AND selected_candidate_rank < 3 THEN 1 END)
      |    / CAST(count(CASE WHEN selected_candidate_rank >= 0 THEN 1
      |      END) AS DOUBLE), 6) AS top3_hit_rate,
      |  ROUND(count(CASE WHEN selected_candidate_rank = -1 THEN 1 END)
      |    * CAST(100 AS DOUBLE) / count(*), 6) AS direct_input_rate""".stripMargin

  /** The grouped weighted-median prefix over `s` (grp, v, w): group
    * totals `t`, the ⌈0.5 · total⌉ target `kx`, and `c`'s running
    * weight per group, open at its FROM (callers name the source). */
  private lazy val duckGroupedCumWeightCtes: String =
    """t AS (SELECT grp, CAST(sum(w) AS BIGINT) AS wt
      |  FROM s GROUP BY grp),
      |kx AS (SELECT grp, wt, greatest(CAST(1 AS BIGINT),
      |    CAST(ceil(CAST(0.5 AS DOUBLE) * wt) AS BIGINT)) AS k
      |  FROM t),
      |c AS (SELECT grp, v, CAST(sum(w) OVER (PARTITION BY grp
      |    ORDER BY v
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS BIGINT) AS cw""".stripMargin

  /** q53/q113's grouped weighted median over `s`, the group key
    * reported as `key`. */
  private def duckGroupedMedianSql(key: String): String =
    s"""$duckGroupedCumWeightCtes
       |  FROM s)
       |SELECT kx.grp AS $key,
       |  (SELECT min(v) FROM c
       |   WHERE c.grp = kx.grp AND c.cw >= kx.k) AS value,
       |  wt AS w_total, k
       |FROM kx ORDER BY $key""".stripMargin

  private lazy val registry: Map[String, Q] = Map(

    // ---- S: sources / scans (SURVEY §2.1) -----------------------------
    "s1_scan_project" -> Q(
      (s, dir) => rawEvents(s, dir)
        .select("event_id", "user_id", "event_type")
        .orderBy("event_id").limit(500),
      Some("""SELECT event_id, user_id, event_type FROM events
             |ORDER BY event_id LIMIT 500""".stripMargin)),

    "s2_scan_fused_filter" -> Q(
      (s, dir) => commits(s, dir)
        .select("event_id", "user_id", "k")
        .orderBy("event_id").limit(500),
      Some(s"""$commitsCte
              |SELECT event_id, user_id, k FROM c
              |ORDER BY event_id LIMIT 500""".stripMargin)),

    // ---- S5: the custom DataSource V2 connector on the verified
    // path: write the commit projection as JSONL (the reference's own
    // on-disk format), read it back through graft.sources
    // .EventLogSource with 4 KiB byte-range splits (dozens of
    // boundary-straddling lines) and a source-pushed event_type
    // filter; oracle = the plain projection. ---------------------------
    "s5_dsv2_scan" -> Q(
      (s, dir) => {
        val out = Staged.dir(s, "s5", dir) { p =>
          commits(s, dir)
            .select(col("event_id").cast("string").as("timestamp"),
              lit("text_committed").as("event_type"),
              col("committed_text"), rk)
            .coalesce(1).write.mode("overwrite").json(p)
        }
        val part = new java.io.File(out).listFiles()
          .find(f => f.getName.startsWith("part-") &&
            f.getName.endsWith(".json")).get.getPath
        s.read.format("graft.sources.EventLogSource")
          .option("splitBytes", "4096").load(part)
          .filter(col("event_type") === "text_committed")
          .select(col("timestamp").cast("long").as("event_id"),
            col("committed_text"), col("selected_candidate_rank"))
          .orderBy("event_id").limit(500)
      },
      Some(s"""$commitsCte
              |SELECT event_id, committed_text, selected_candidate_rank
              |FROM c ORDER BY event_id LIMIT 500""".stripMargin)),

    // ---- P: filters / projections (SURVEY §2.2) -----------------------
    "p2_filter_selections" -> Q(
      (s, dir) => commits(s, dir).filter(E.isSelection)
        .select(col("event_id"), rk.as("rank"))
        .orderBy("event_id").limit(500),
      Some(s"""$commitsCte
              |SELECT event_id, selected_candidate_rank AS rank FROM c
              |WHERE selected_candidate_rank >= 0
              |ORDER BY event_id LIMIT 500""".stripMargin)),

    "p3_filter_direct" -> Q(
      (s, dir) => commits(s, dir).filter(E.isDirectCommit)
        .select(col("event_id"), rk.as("rank"))
        .orderBy("event_id").limit(500),
      Some(s"""$commitsCte
              |SELECT event_id, selected_candidate_rank AS rank FROM c
              |WHERE selected_candidate_rank = -1
              |ORDER BY event_id LIMIT 500""".stripMargin)),

    "p4_filter_misses" -> Q(
      (s, dir) => commits(s, dir).filter(E.isMiss)
        .select(col("event_id"), rk.as("rank"))
        .orderBy("event_id").limit(500),
      Some(s"""$commitsCte
              |SELECT event_id, selected_candidate_rank AS rank FROM c
              |WHERE selected_candidate_rank > 0
              |ORDER BY event_id LIMIT 500""".stripMargin)),

    "p5_project_rename" -> Q(
      (s, dir) => ExportMissesQuery
        .misses(commits(s, dir), extraCols = Seq("event_id"))
        .orderBy("event_id").limit(500),
      Some(s"""$commitsCte
              |SELECT event_id,
              |  source_input_buffer AS 用户输入,
              |  committed_text AS 实际选择,
              |  source_first_candidate AS 程序预测,
              |  selected_candidate_rank AS 选择排名
              |FROM c WHERE selected_candidate_rank > 0
              |ORDER BY event_id LIMIT 500""".stripMargin)),

    // ---- P6: defensive column intersection over a preset-sparse
    // table (cli.py:341): write a commit subset WITHOUT two of the
    // report columns (the "normal"-preset shape), re-read, and select
    // the desired report columns defensively — the absent ones drop
    // out instead of failing analysis. -------------------------------
    "p6_sparse_columns" -> Q(
      (s, dir) => {
        val sparseDir = Staged.scratch("graft_p6")
        commits(s, dir)
          .select("event_id", "committed_text", "selected_candidate_rank")
          .write.mode("overwrite").parquet(sparseDir)
        E.selectExisting(s.read.parquet(sparseDir),
            Seq("event_id", "source_input_buffer", "committed_text",
              "source_first_candidate", "selected_candidate_rank"))
          .orderBy("event_id").limit(500)
      },
      Some(s"""$commitsCte
              |SELECT event_id, committed_text, selected_candidate_rank
              |FROM c ORDER BY event_id LIMIT 500""".stripMargin)),

    "p7_accuracy_score" -> Q(
      (s, dir) => commits(s, dir).filter(E.isSelection)
        .select(col("event_id"), rk.as("rank"),
          E.accuracyScore.as("accuracy_score"))
        .orderBy("event_id").limit(500),
      Some(s"""$commitsCte
              |SELECT event_id, selected_candidate_rank AS rank,
              |  CAST(1 AS DOUBLE) / (selected_candidate_rank + 1)
              |    AS accuracy_score
              |FROM c WHERE selected_candidate_rank >= 0
              |ORDER BY event_id LIMIT 500""".stripMargin)),

    // ---- P8/P9: the producer's write-time cascade (SURVEY §2.2),
    // driven through WritePipeline.applyPreset with a verification
    // preset — the oracle restates the cascade as WHERE + CASE masks.
    "p8_write_mask" -> Q(
      (s, dir) => graft.ops.WritePipeline
        .applyPreset(events(s, dir), verifyPreset)
        .select(col("event_type"), col("event_id"), col("committed_text"),
          col("selected_candidate_rank"), col("value"))
        .orderBy("event_id").limit(1000),
      Some(s"""$cte
              |SELECT event_type, event_id,
              |  CASE WHEN event_type = 'text_committed'
              |    THEN committed_text END AS committed_text,
              |  CASE WHEN event_type = 'text_committed'
              |    THEN selected_candidate_rank END
              |    AS selected_candidate_rank,
              |  CASE WHEN event_type = 'view' THEN value END AS value
              |FROM rime
              |WHERE (event_type = 'text_committed'
              |    AND selected_candidate_rank >= 1)
              |  OR event_type = 'view'
              |ORDER BY event_id LIMIT 1000""".stripMargin)),

    "p9_write_cascade" -> Q(
      (s, dir) => graft.ops.WritePipeline
        .applyPreset(events(s, dir), verifyPreset)
        .groupBy("event_type").agg(count(lit(1)).as("n"))
        .orderBy("event_type"),
      Some(s"""$cte
              |SELECT event_type, count(*) AS n FROM rime
              |WHERE (event_type = 'text_committed'
              |    AND selected_candidate_rank >= 1)
              |  OR event_type = 'view'
              |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ---- A: aggregations (SURVEY §2.3) --------------------------------
    "a1_counts" -> Q(
      (s, dir) => commits(s, dir).agg(
        count(lit(1)).as("total_commits"),
        count(when(E.isSelection, 1)).as("total_selections")),
      Some(s"""$commitsCte
              |SELECT count(*) AS total_commits,
              |  count(CASE WHEN selected_candidate_rank >= 0 THEN 1 END)
              |    AS total_selections
              |FROM c""".stripMargin)),

    "a2_count_first_choice" -> Q(
      (s, dir) => commits(s, dir)
        .agg(count(when(E.isFirstChoice, 1)).as("first_choice_count")),
      Some(s"""$commitsCte
              |SELECT count(CASE WHEN selected_candidate_rank = 0 THEN 1 END)
              |  AS first_choice_count FROM c""".stripMargin)),

    "a3_count_top3" -> Q(
      (s, dir) => commits(s, dir)
        .agg(count(when(E.isTop3, 1)).as("top3_count")),
      Some(s"""$commitsCte
              |SELECT count(CASE WHEN selected_candidate_rank >= 0
              |  AND selected_candidate_rank < 3 THEN 1 END) AS top3_count
              |FROM c""".stripMargin)),

    "a4_count_direct" -> Q(
      (s, dir) => commits(s, dir)
        .agg(count(when(E.isDirectCommit, 1)).as("raw_input_commits")),
      Some(s"""$commitsCte
              |SELECT count(CASE WHEN selected_candidate_rank = -1 THEN 1 END)
              |  AS raw_input_commits FROM c""".stripMargin)),

    "a5_avg_rank" -> Q(
      (s, dir) => commits(s, dir)
        .agg(avg(when(E.isSelection, rk)).as("average_rank")),
      Some(s"""$commitsCte
              |SELECT avg(CASE WHEN selected_candidate_rank >= 0
              |  THEN selected_candidate_rank END) AS average_rank
              |FROM c""".stripMargin)),

    "a6_hit_rates" -> Q(
      (s, dir) => AnalyzeQuery.metricsFrame(commits(s, dir)).select(
        round(col("first_choice_hit_rate"), 6).as("first_choice_hit_rate"),
        round(col("top3_hit_rate"), 6).as("top3_hit_rate"),
        round(col("direct_input_rate"), 6).as("direct_input_rate")),
      Some(s"""$commitsCte
              |SELECT
              |$duckHitRateCols
              |FROM c""".stripMargin)),

    "q_analyze_metrics" -> Q(
      (s, dir) => analyzeMetrics(s, dir),
      Some(s"""$commitsCte
              |SELECT count(*) AS total_commits,
              |  count(CASE WHEN selected_candidate_rank >= 0 THEN 1 END)
              |    AS total_selections,
              |  count(CASE WHEN selected_candidate_rank = -1 THEN 1 END)
              |    AS raw_input_commits,
              |  count(CASE WHEN selected_candidate_rank = 0 THEN 1 END)
              |    AS first_choice_count,
              |  count(CASE WHEN selected_candidate_rank >= 0
              |    AND selected_candidate_rank < 3 THEN 1 END) AS top3_count,
              |  ROUND(avg(CASE WHEN selected_candidate_rank >= 0
              |    THEN selected_candidate_rank END), 6) AS average_rank,
              |  ROUND(avg(CASE WHEN selected_candidate_rank >= 0
              |    THEN CAST(1 AS DOUBLE) / (selected_candidate_rank + 1) END),
              |    6) AS overall_accuracy_score,
              |$duckHitRateCols
              |FROM c""".stripMargin)),

    "a7_window_miss_freq" -> Q(
      (s, dir) => {
        val m = commits(s, dir).filter(E.isMiss)
          .select(col("event_id"), col("committed_text"))
        m.withColumn("错误频率",
            count(lit(1)).over(Window.partitionBy(col("committed_text"))))
          .orderBy("event_id").limit(1000)
      },
      Some(s"""$commitsCte
              |SELECT event_id, committed_text,
              |  count(*) OVER (PARTITION BY committed_text) AS 错误频率
              |FROM c WHERE selected_candidate_rank > 0
              |ORDER BY event_id LIMIT 1000""".stripMargin)),

    "a8_miss_count" -> Q(
      (s, dir) => commits(s, dir)
        .agg(count(when(E.isMiss, 1)).as("miss_count")),
      Some(s"""$commitsCte
              |SELECT count(CASE WHEN selected_candidate_rank > 0 THEN 1 END)
              |  AS miss_count FROM c""".stripMargin)),

    // ---- O: sort / export-misses (SURVEY §2.4, §3.2) ------------------
    "o1_sort_misses" -> Q(
      (s, dir) => missReport(s, dir),
      Some(duckMissReportSql)),

    // ---- K1: the CSV report sink itself (BOM + Chinese headers), on
    // the driver-verified path: write the miss report with
    // ReportWriter, re-ingest it, and prove the round trip preserves
    // every row against the same oracle as o1. ------------------------
    "k1_csv_roundtrip" -> Q(
      (s, dir) => {
        val report = missReport(s, dir)
        val out = new java.io.File(Staged.scratch("graft_k1"), "report.csv")
          .getPath
        graft.io.ReportWriter.writeCsvReport(report, out)
        graft.io.ReportWriter.readCsvReport(s, out)
          .select(col("event_id").cast("long").as("event_id"),
            col("用户输入"), col("实际选择"), col("程序预测"),
            col("选择排名").cast("int").as("选择排名"),
            col("错误频率").cast("long").as("错误频率"))
          .orderBy(col("错误频率").desc, col("用户输入").asc,
            col("实际选择").asc, col("选择排名").asc, col("event_id").asc)
      },
      Some(duckMissReportSql)),

    // ORC as the second columnar format (Spark ships the native
    // reader/writer; vectorization + predicate pushdown work the same
    // as parquet): write documents to ORC, read back, aggregate — the
    // roundtrip must be value-lossless, so the oracle runs the same
    // aggregate on the original parquet. Footer/stripe layout mirrors
    // parquet row groups, so the 100 TB posture (partition pruning,
    // size-targeted files via TableLayout.compact) transfers as-is.
    "k4_orc_roundtrip" -> Q(
      (s, dir) => {
        val out = Staged.scratch("graft_k4")
        table(s, dir, "documents").write.mode("overwrite").orc(out)
        s.read.orc(out)
          .groupBy("lang", "source").agg(
            count(lit(1)).as("docs"),
            sum("n_chars").as("chars"),
            sum(TextStats.tokenCount(col("text"))).as("tokens"))
          .orderBy("lang", "source")
      },
      Some("""SELECT lang, source, count(*) AS docs,
             |  CAST(sum(n_chars) AS BIGINT) AS chars,
             |  CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS tokens
             |FROM documents GROUP BY lang, source
             |ORDER BY lang, source""".stripMargin)),

    // ---- T8/K3: the JSONL sink on the verified path: write the
    // commit projection as JSON lines, re-ingest through the explicit
    // schema, and prove the round trip against the plain projection
    // oracle (null rank → key omitted → null again). ------------------
    "t8_jsonl_roundtrip" -> Q(
      (s, dir) => {
        val out = Staged.scratch("graft_t8")
        commits(s, dir)
          .select(col("event_id"), col("committed_text"), rk)
          .write.mode("overwrite").json(out)
        s.read.schema(
            "event_id long, committed_text string, selected_candidate_rank int")
          .json(out)
          .orderBy("event_id").limit(500)
      },
      Some(s"""$commitsCte
              |SELECT event_id, committed_text, selected_candidate_rank
              |FROM c ORDER BY event_id LIMIT 500""".stripMargin)),

    // ---- T: time / derivation operators (SURVEY §2.6, batch forms) ----
    "t1_sessionize" -> Q(
      // ts is long ns; 30-minute gap = 1.8e12 ns, exact integer
      // compare — the shared withSessionSeq builder (one definition
      // across t1/q67/t12)
      (s, dir) => withSessionSeq(rawEvents(s, dir), Seq.empty)
        .select("event_id", "user_id", "session_seq")
        .orderBy("event_id").limit(1000),
      Some(s"""WITH $duckSessionCtes
             |SELECT event_id, user_id, session_seq
             |FROM se ORDER BY event_id LIMIT 1000""".stripMargin)),

    "t2_last_state" -> Q(
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        rawEvents(s, dir).select("event_id", "user_id", "event_type", "ts")
          .withColumn("prev_event_type", lag(col("event_type"), 1).over(w))
          .select("event_id", "user_id", "prev_event_type")
          .orderBy("event_id").limit(1000)
      },
      Some("""SELECT event_id, user_id,
             |  lag(event_type) OVER (PARTITION BY user_id
             |    ORDER BY ts, event_id) AS prev_event_type
             |FROM events ORDER BY event_id LIMIT 1000""".stripMargin)),

    // ---- T3: page-index tracking, batch form (SURVEY §2.6;
    // input_habit_logger.lua:309-317). The lua state machine is
    // page = max(page + d, 0), reset to 0 on buffer change. The
    // clamped running sum is windowable via the reflection identity
    // x_t = S_t - min(0, min_{u<=t} S_u) within each reset run, so the
    // batch form is two stacked windows — no stateful API needed.
    "t3_page_track" -> Q(
      (s, dir) => {
        val ev = events(s, dir)
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val delta =
          when(col("event_type") === "view" && col("k") % 3 === 0, 1)
            .when(col("event_type") === "view" && col("k") % 3 === 1, -1)
            .otherwise(0)
        val base = ev.select(col("event_id"), col("user_id"), col("ts"),
            delta.as("d"),
            when(col("event_type") === "signup", 1).otherwise(0).as("rst"))
          .withColumn("run", sum(col("rst")).over(w))
        val w2 = Window.partitionBy("user_id", "run")
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        base.withColumn("s", sum(col("d")).over(w2))
          .withColumn("m", min(col("s")).over(w2))
          .select(col("event_id"), col("user_id"),
            (col("s") - least(col("m"), lit(0))).cast("long").as("page"))
          .orderBy("event_id").limit(1000)
      },
      Some(s"""$cte,
              |b AS (SELECT event_id, user_id, ts,
              |    CASE WHEN event_type = 'view' AND k % 3 = 0 THEN 1
              |         WHEN event_type = 'view' AND k % 3 = 1 THEN -1
              |         ELSE 0 END AS d,
              |    CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END AS rst
              |  FROM rime),
              |r AS (SELECT *, SUM(rst) OVER (PARTITION BY user_id
              |    ORDER BY ts, event_id
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
              |  FROM b),
              |s1 AS (SELECT *, SUM(d) OVER (PARTITION BY user_id, run
              |    ORDER BY ts, event_id
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
              |  FROM r),
              |s2 AS (SELECT *, MIN(s) OVER (PARTITION BY user_id, run
              |    ORDER BY ts, event_id
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
              |  FROM s1)
              |SELECT event_id, user_id,
              |  CAST(s - LEAST(m, 0) AS BIGINT) AS page
              |FROM s2 ORDER BY event_id LIMIT 1000""".stripMargin)),

    // Batch REPLAY of the T3 page-tracker state machine (the q71
    // convention applied to the RankRederivation family): events
    // split into three time-tertile batches, the clamped page walk
    // folds forward per user through a keyed cogroup, and the carried
    // state after each prefix must equal the ONE-SHOT t3 window form
    // (reflection identity) over that prefix — splitting a sequential
    // walk at batch boundaries cannot move it.
    "q72_page_track_replay" -> Q(
      (s, dir) => {
        import s.implicits._
        val delta =
          when(col("event_type") === "view" && col("k") % 3 === 0, 1)
            .when(col("event_type") === "view" && col("k") % 3 === 1, -1)
            .otherwise(0)
        val rst =
          when(col("event_type") === "signup", 1).otherwise(0)
        val ev = events(s, dir).select(col("user_id"), col("ts"),
          col("event_id"), delta.as("d"), rst.as("rst"))
        val r = ev.agg(min("ts").as("mn"), max("ts").as("mx")).head()
        val (mn, mx) = (r.getLong(0), r.getLong(1))
        val span = mx - mn + 1
        val withB = ev.withColumn("_b",
          expr(s"((ts - $mn) * 3) div $span"))
        val batches = (0L to 2L).map(b =>
          withB.filter(col("_b") === b).drop("_b")
            .as[graft.streaming.PageEvent])
        val snaps = graft.streaming.PageTrackReplay.replay(batches)
        snaps.zipWithIndex.map { case (st, i) =>
            st.toDF().withColumn("batch_id", lit(i.toLong)) }
          .reduce(_ unionAll _)
          .select(col("batch_id"), col("user_id"), col("page"))
          .orderBy("batch_id", "user_id").limit(5000)
      },
      Some(s"""$cte,
              |pe0 AS (SELECT event_id, user_id, ts,
              |    epoch_ns(ts) AS tn,
              |    CASE WHEN event_type = 'view' AND k % 3 = 0 THEN 1
              |         WHEN event_type = 'view' AND k % 3 = 1 THEN -1
              |         ELSE 0 END AS d,
              |    CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END
              |      AS rst
              |  FROM rime),
              |prng AS (SELECT min(tn) AS mn, max(tn) AS mx FROM pe0),
              |peb AS (SELECT pe0.*,
              |    ((tn - prng.mn) * 3) // (prng.mx - prng.mn + 1) AS bb
              |  FROM pe0, prng),
              |pp AS (SELECT gb.b AS pb FROM generate_series(0, 2)
              |  gb(b)),
              |pfx AS (SELECT pp.pb, peb.* FROM pp
              |  JOIN peb ON peb.bb <= pp.pb),
              |pr AS (SELECT *, SUM(rst) OVER (
              |    PARTITION BY pb, user_id ORDER BY ts, event_id
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              |    AS run FROM pfx),
              |ps1 AS (SELECT *, SUM(d) OVER (
              |    PARTITION BY pb, user_id, run ORDER BY ts, event_id
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              |    AS s FROM pr),
              |ps2 AS (SELECT *, MIN(s) OVER (
              |    PARTITION BY pb, user_id, run ORDER BY ts, event_id
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              |    AS m FROM ps1),
              |plast AS (SELECT *, row_number() OVER (
              |    PARTITION BY pb, user_id
              |    ORDER BY ts DESC, event_id DESC) AS rn FROM ps2)
              |SELECT CAST(pb AS BIGINT) AS batch_id, user_id,
              |  CAST(s - LEAST(m, 0) AS BIGINT) AS page
              |FROM plast WHERE rn = 1
              |ORDER BY batch_id, user_id LIMIT 5000""".stripMargin)),

    "t5_selection_method" -> Q(
      (s, dir) => {
        // synthesize the pending key action / buffer the way the producer
        // state machine would have them, then apply the faithful chain
        val keyAction = when(rk.isNull || rk === -1, lit(null))
          .when(col("k") < 50, lit("space"))
          .otherwise((rk % 9 + 1).cast("string"))
        val inputBuffer = when(rk === -1 && col("k") % 2 === 0, lit(null))
          .otherwise(col("source_input_buffer"))
        commits(s, dir)
          .select(col("event_id"),
            E.selectionMethod(rk, keyAction, inputBuffer)
              .as("selection_method"))
          .orderBy("event_id").limit(500)
      },
      Some(s"""$commitsCte,
              |k2 AS (SELECT event_id, selected_candidate_rank AS r,
              |  CASE WHEN selected_candidate_rank IS NULL
              |         OR selected_candidate_rank = -1 THEN NULL
              |       WHEN k < 50 THEN 'space'
              |       ELSE CAST(selected_candidate_rank % 9 + 1 AS VARCHAR)
              |  END AS ka,
              |  CASE WHEN selected_candidate_rank = -1 AND k % 2 = 0
              |    THEN NULL ELSE source_input_buffer END AS ib
              |FROM c)
              |SELECT event_id,
              |  CASE WHEN ka = 'space' AND r = 0 THEN 'first_choice_space'
              |       WHEN ka = 'space' THEN 'nth_choice_space'
              |       WHEN ka IS NOT NULL AND regexp_matches(ka, '^[1-9]$$')
              |         THEN 'nth_choice_number_' || ka
              |       WHEN ka IS NULL AND ib IS NULL
              |         THEN 'direct_commit_no_menu'
              |       ELSE 'unknown' END AS selection_method
              |FROM k2 ORDER BY event_id LIMIT 500""".stripMargin)),

    "t6_subtype_classify" -> Q(
      (s, dir) => rawEvents(s, dir)
        .select(when(col("event_type") === "view",
            when(col("value") < 10, "menu_navigation").otherwise("other_key"))
          .when(col("event_type") === "error", "input_rejected")
          .when(col("event_type") === "signup", "buffer_edit")
          .otherwise("other").as("event_subtype"))
        .groupBy("event_subtype").agg(count(lit(1)).as("n"))
        .orderBy("event_subtype"),
      Some("""SELECT CASE WHEN event_type = 'view' THEN
             |    (CASE WHEN value < 10 THEN 'menu_navigation'
             |          ELSE 'other_key' END)
             |  WHEN event_type = 'error' THEN 'input_rejected'
             |  WHEN event_type = 'signup' THEN 'buffer_edit'
             |  ELSE 'other' END AS event_subtype,
             |  count(*) AS n
             |FROM events GROUP BY 1 ORDER BY event_subtype""".stripMargin)),

    "t7_time_derive" -> Q(
      (s, dir) => {
        // long-ns → timestamp via exact integer div (never double division:
        // ns magnitudes exceed 2^53)
        val t = timestamp_micros(expr("ts div 1000"))
        rawEvents(s, dir).select(col("event_id"),
            year(t).cast("long").as("y"),
            month(t).cast("long").as("m"),
            dayofmonth(t).cast("long").as("dom"),
            hour(t).cast("long").as("h"),
            minute(t).cast("long").as("mi"))
          .orderBy("event_id").limit(1000)
      },
      Some("""SELECT event_id,
             |  CAST(year(ts) AS BIGINT) AS y,
             |  CAST(month(ts) AS BIGINT) AS m,
             |  CAST(day(ts) AS BIGINT) AS dom,
             |  CAST(hour(ts) AS BIGINT) AS h,
             |  CAST(minute(ts) AS BIGINT) AS mi
             |FROM events ORDER BY event_id LIMIT 1000""".stripMargin)),

    // ---- O2: candidate-list truncation (input_habit_logger.lua:202-212)
    "o2_slice_topk" -> Q(
      (s, dir) => table(s, dir, "documents").select(col("doc_id"),
          concat_ws(" ", slice(split(col("text"), " "), 1, 5)).as("top5"))
        .orderBy("doc_id").limit(500),
      Some("""SELECT doc_id,
             |  array_to_string((str_split(text, ' '))[1:5], ' ') AS top5
             |FROM documents ORDER BY doc_id LIMIT 500""".stripMargin)),

    // ---- T4: rank derivation via array_position + page arithmetic
    // (input_habit_logger.lua:222-252; page_size=6 at :223)
    "t4_rank_derive" -> Q(
      (s, dir) => {
        val pos = array_position(split(col("text"), " "), "spark")
        table(s, dir, "documents").select(col("doc_id"),
            pos.as("pos"),
            when(pos > 0, (col("doc_id") % 3) * 6 + pos - 1)
              .otherwise(lit(-1L)).cast("long").as("derived_rank"))
          .orderBy("doc_id").limit(500)
      },
      Some("""SELECT doc_id,
             |  CAST(list_position(str_split(text, ' '), 'spark') AS BIGINT)
             |    AS pos,
             |  CAST(CASE WHEN list_position(str_split(text, ' '), 'spark') > 0
             |    THEN (doc_id % 3) * 6
             |      + list_position(str_split(text, ' '), 'spark') - 1
             |    ELSE -1 END AS BIGINT) AS derived_rank
             |FROM documents ORDER BY doc_id LIMIT 500""".stripMargin)),

    // ---- T9: as-of join (time-series state attachment) ----------------
    "t9_asof_join" -> Q(
      (s, dir) => prevClick(s, dir)((purchases, clicks) =>
        graft.ops.AsOfJoin.asofJoin(purchases, clicks, Seq("user_id"),
          "ts", Seq("click_id"), tieBreak = Some("click_id"),
          strict = true)),
      Some(duckPrevClickSql)),

    // ---- T11: the same as-of join through the NATIVE operator
    // (plans/NativeAsOfJoin: custom LogicalPlan + strategy + sort-merge
    // SparkPlan). Identical oracle to t9 — the operator implementation
    // must not change the answer. --------------------------------------
    "t11_asof_native" -> Q(
      (s, dir) => prevClick(s, dir)((purchases, clicks) =>
        graft.plans.NativeAsOfJoin.asofJoin(purchases, clicks,
          Seq("user_id"), "ts", Seq("click_id"),
          tieBreak = Some("click_id"), strict = true)),
      Some(duckPrevClickSql)),

    // ---- T10: bucketed range join ( clicks within 30 min before a
    // purchase, same user) ------------------------------------------------
    "t10_range_join" -> Q(
      (s, dir) => {
        val ev = rawEvents(s, dir)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("purchase_id"),
            col("ts").as("p_ts"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id").as("click_id"),
            col("ts").as("c_ts"))
        graft.ops.RangeJoin.withinRange(purchases, clicks, Seq("user_id"),
            "p_ts", "c_ts", width = 1800L * 1000000000L) // 30 min in ns
          .select(col("purchase_id"), col("click_id"))
          .orderBy("purchase_id", "click_id").limit(2000)
      },
      Some("""SELECT p.event_id AS purchase_id, c.event_id AS click_id
             |FROM events p JOIN events c ON p.user_id = c.user_id
             |WHERE p.event_type = 'purchase' AND c.event_type = 'click'
             |  AND c.ts BETWEEN p.ts - INTERVAL 30 MINUTE AND p.ts
             |ORDER BY purchase_id, click_id LIMIT 2000""".stripMargin)),

    // INTERVAL × INTERVAL overlap join — t10's range join handles
    // point-in-range; this joins user sessions (t1's 30-min-gap
    // intervals) against the 5 busiest hours (data-derived windows):
    // both sides explode to hour bins, the join is a plain equi-join
    // on the bin, the exact overlap predicate filters, distinct
    // collapses multi-bin matches. Never a cartesian
    // (PlanDisciplineSpec); a span wider than the guard fails in the
    // plan via raise_error.
    "t12_interval_overlap" -> Q(
      (s, dir) => {
        val ev = rawEvents(s, dir)
        val sess = withSessionSeq(ev, Seq.empty)
          .groupBy("user_id", "session_seq")
          .agg(min(col("ts")).as("s_start"),
            max(col("ts")).as("s_end"))
        val windows = ev
          .select(expr("(ts div 1000) div 3600000000").as("h"))
          .groupBy("h").agg(count(lit(1)).as("c"))
          .orderBy(desc("c"), asc("h")).limit(5)
          .select(col("h").as("window_id"),
            (col("h") * lit(3600000000000L)).as("w_start"),
            ((col("h") + lit(1L)) * lit(3600000000000L) - lit(1L))
              .as("w_end"))
        graft.ops.RangeJoin.overlapJoin(sess, windows, Seq.empty,
            "s_start", "s_end", "w_start", "w_end",
            binWidth = 3600000000000L,
            outCols = Seq("user_id", "session_seq", "window_id"))
          .orderBy("user_id", "session_seq", "window_id").limit(2000)
      },
      Some(s"""WITH $duckSessionCtes,
             |si AS (SELECT user_id, session_seq,
             |    min(epoch_ns(ts)) AS s_start,
             |    max(epoch_ns(ts)) AS s_end
             |  FROM se GROUP BY user_id, session_seq),
             |hw AS (SELECT epoch_us(ts) // 3600000000 AS h,
             |    count(*) AS c
             |  FROM events GROUP BY h
             |  ORDER BY c DESC, h ASC LIMIT 5),
             |wv AS (SELECT h AS window_id,
             |    h * 3600000000000 AS w_start,
             |    (h + 1) * 3600000000000 - 1 AS w_end FROM hw)
             |SELECT si.user_id, si.session_seq, wv.window_id
             |FROM si JOIN wv ON si.s_start <= wv.w_end
             |  AND wv.w_start <= si.s_end
             |ORDER BY user_id, session_seq, window_id
             |LIMIT 2000""".stripMargin)),

    // ---- relational coverage over the star schema ---------------------
    // money sums accumulate in exact DECIMAL (order-independent), then the
    // FINAL value is cast to DOUBLE for output: the driver's value compare
    // renders engine-native decimals differently (Decimal vs float64), so
    // decimal columns hash-mismatch even when equal — doubles don't.
    "q1_lineitem_agg" -> Q(
      (s, dir) => lineitem(s, dir)
        .groupBy("l_returnflag", "l_linestatus").agg(
          count(lit(1)).as("count_order"),
          sum(col("l_quantity").cast("decimal(18,2)"))
            .cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double").as("sum_base_price"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,4)")).cast("double").as("sum_disc_price"),
          round(avg(col("l_discount")), 6).as("avg_disc"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus,
             |  count(*) AS count_order,
             |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             |    AS sum_qty,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
             |    AS DOUBLE) AS sum_base_price,
             |  CAST(sum(CAST(l_extendedprice * (1 - l_discount)
             |    AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
             |  ROUND(avg(l_discount), 6) AS avg_disc
             |FROM lineitem GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // Single-pass Pearson correlation with EXACT integer co-moments —
    // the d28 micro-unit discipline applied to second moments. The
    // built-in corr() accumulates floating co-moments whose value
    // depends on partial-aggregation order; here inputs quantize to
    // micro-units and n/Σx/Σy/Σxy/Σx²/Σy² accumulate exactly in
    // decimal(38,0) (128-bit in the oracle), so every engine derives
    // the same correlation to the final rounding. One partial+final
    // aggregation, no window, no join — the scale shape of any
    // correlation-matrix profile job.
    "q36_correlation" -> Q(
      (s, dir) => {
        val micro = lineitem(s, dir).select(col("l_returnflag"),
          round(col("l_quantity") * 1e6).cast("decimal(38,0)").as("x"),
          round(col("l_extendedprice") * 1e6).cast("decimal(38,0)")
            .as("y"))
        micro.groupBy("l_returnflag").agg(
            count(lit(1)).cast("decimal(38,0)").as("n"),
            sum(col("x")).as("sx"), sum(col("y")).as("sy"),
            sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"),
            sum(col("y") * col("y")).as("syy"))
          .select(col("l_returnflag"),
            col("n").cast("long").as("n_rows"),
            round((col("n") * col("sxy") - col("sx") * col("sy"))
                .cast("double") /
              sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
                  .cast("double") *
                (col("n") * col("syy") - col("sy") * col("sy"))
                  .cast("double")), 6)
              .as("corr_qty_price"))
          .orderBy("l_returnflag")
      },
      Some("""WITH m AS (SELECT l_returnflag,
             |    CAST(ROUND(l_quantity * 1e6) AS HUGEINT) AS x,
             |    CAST(ROUND(l_extendedprice * 1e6) AS HUGEINT) AS y
             |  FROM lineitem),
             |a AS (SELECT l_returnflag, CAST(count(*) AS HUGEINT) AS n,
             |    sum(x) AS sx, sum(y) AS sy, sum(x*y) AS sxy,
             |    sum(x*x) AS sxx, sum(y*y) AS syy
             |  FROM m GROUP BY l_returnflag)
             |SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
             |  ROUND(CAST(n*sxy - sx*sy AS DOUBLE) /
             |    sqrt(CAST(n*sxx - sx*sx AS DOUBLE) *
             |         CAST(n*syy - sy*sy AS DOUBLE)), 6)
             |    AS corr_qty_price
             |FROM a ORDER BY l_returnflag""".stripMargin)),

    // Closed-form least-squares fit from the same exact co-moments as
    // q36 — regression as a single partial+final aggregation, no
    // iterative solver: slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²),
    // intercept = (Σy − slope·Σx)/n, both derived from exactly
    // accumulated integers and divided once at the end. The per-group
    // model-fit shape of any feature-calibration job at 100 TB: one
    // scan, a |groups|-row result, deterministic under any
    // partitioning.
    "q37_linear_fit" -> Q(
      (s, dir) => {
        val micro = lineitem(s, dir).select(col("l_returnflag"),
          round(col("l_quantity") * 1e6).cast("decimal(38,0)").as("x"),
          round(col("l_extendedprice") * 1e6).cast("decimal(38,0)")
            .as("y"))
        micro.groupBy("l_returnflag").agg(
            count(lit(1)).cast("decimal(38,0)").as("n"),
            sum(col("x")).as("sx"), sum(col("y")).as("sy"),
            sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"))
          .select(col("l_returnflag"),
            col("n").cast("long").as("n_rows"),
            round((col("n") * col("sxy") - col("sx") * col("sy"))
                .cast("double") /
              (col("n") * col("sxx") - col("sx") * col("sx"))
                .cast("double"), 6).as("slope"),
            round((col("sy").cast("double") -
              ((col("n") * col("sxy") - col("sx") * col("sy"))
                  .cast("double") /
                (col("n") * col("sxx") - col("sx") * col("sx"))
                  .cast("double")) * col("sx").cast("double")) /
              col("n").cast("double") / 1e6, 6).as("intercept"))
          .orderBy("l_returnflag")
      },
      Some("""WITH m AS (SELECT l_returnflag,
             |    CAST(ROUND(l_quantity * 1e6) AS HUGEINT) AS x,
             |    CAST(ROUND(l_extendedprice * 1e6) AS HUGEINT) AS y
             |  FROM lineitem),
             |a AS (SELECT l_returnflag, CAST(count(*) AS HUGEINT) AS n,
             |    sum(x) AS sx, sum(y) AS sy, sum(x*y) AS sxy,
             |    sum(x*x) AS sxx
             |  FROM m GROUP BY l_returnflag)
             |SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
             |  ROUND(CAST(n*sxy - sx*sy AS DOUBLE) /
             |    CAST(n*sxx - sx*sx AS DOUBLE), 6) AS slope,
             |  ROUND((CAST(sy AS DOUBLE) -
             |    (CAST(n*sxy - sx*sy AS DOUBLE) /
             |     CAST(n*sxx - sx*sx AS DOUBLE)) * CAST(sx AS DOUBLE))
             |    / CAST(n AS DOUBLE) / 1e6, 6) AS intercept
             |FROM a ORDER BY l_returnflag""".stripMargin)),

    // The 100 TB shuffle-join shape with RUNTIME ROW-LEVEL FILTERING:
    // a selective dimension predicate (top ~10% of orders) whose key
    // set Spark's InjectRuntimeFilter turns into a bloom filter
    // applied to the fact scan BEFORE the join shuffle — at scale the
    // probe side ships ~10% of itself instead of all of it. The query
    // is planner-agnostic (same rows either way; at fixture scale the
    // dimension simply broadcasts); PlanDisciplineSpec pins the bloom
    // injection under the scale regime (shuffle join forced, runtime
    // bloom thresholds opened) and PLANS.md carries the argument.
    "q35_bloom_pruned_join" -> Q(
      (s, dir) => lineitem(s, dir)
        .join(table(s, dir, "orders")
            .filter(col("o_totalprice") > 450000.0),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(
          count(lit(1)).as("n_items"),
          sum(col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double").as("revenue"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority, count(*) AS n_items,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
             |    AS DOUBLE) AS revenue
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |WHERE o_totalprice > 450000
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    "q2_broadcast_join_agg" -> Q(
      (s, dir) => lineitem(s, dir)
        .join(broadcast(table(s, dir, "part")),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand").agg(
          count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("decimal(18,2)"))
            .cast("double").as("total_qty"))
        .orderBy("p_brand"),
      Some("""SELECT p_brand, count(*) AS n_items,
             |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total_qty
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |GROUP BY p_brand ORDER BY p_brand""".stripMargin)),

    "q3_join_topk" -> Q(
      (s, dir) => {
        // aggregate the fact table FIRST (map-side combine shrinks it
        // ~4x before any join), then take the top-10 BEFORE joining:
        // revenue and the (revenue, orderkey) order are fully determined
        // by the aggregate, and every l_orderkey has its order row
        // (fixture referential integrity), so joining 10 rows instead of
        // the whole aggregate is identical output. The plan becomes
        // TakeOrderedAndProject (per-partition heap, k rows to the
        // driver) + two broadcast joins of a 10-row side — no shuffle
        // join at any scale.
        val top = lineitem(s, dir).groupBy("l_orderkey").agg(
            sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
              .cast("decimal(18,4)")).cast("double").as("revenue"))
          .orderBy(col("revenue").desc, col("l_orderkey").asc).limit(10)
        broadcast(top).join(table(s, dir, "orders"),
            col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(table(s, dir, "customer")),
            col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey"), col("c_mktsegment"), col("revenue"))
          .orderBy(col("revenue").desc, col("o_orderkey").asc).limit(10)
      },
      Some("""SELECT o_orderkey, c_mktsegment,
             |  CAST(sum(CAST(l_extendedprice * (1 - l_discount)
             |    AS DECIMAL(18,4))) AS DOUBLE) AS revenue
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |GROUP BY o_orderkey, c_mktsegment
             |ORDER BY revenue DESC, o_orderkey ASC
             |LIMIT 10""".stripMargin)),

    // HLL sketch (no oracle — HLL implementations differ across
    // engines; accuracy vs exact is spec-verified in ScaleOpsSpec)
    "q8_approx_distinct" -> Q(
      (s, dir) => rawEvents(s, dir)
        .groupBy("event_type").agg(
          approx_count_distinct(col("user_id"), rsd = 0.02)
            .as("approx_users"),
          count(lit(1)).as("n_events"))
        .orderBy("event_type"),
      None),

    "q5_distinct_agg" -> Q(
      (s, dir) => rawEvents(s, dir)
        .groupBy("event_type").agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("event_type"),
      Some("""SELECT event_type, count(*) AS n_events,
             |  count(DISTINCT user_id) AS n_users
             |FROM events GROUP BY event_type
             |ORDER BY event_type""".stripMargin)),

    "q6_grouping_rollup" -> Q(
      (s, dir) => lineitem(s, dir)
        .rollup("l_returnflag", "l_linestatus").agg(
          count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)"))
            .cast("double").as("qty"))
        // NULLS FIRST explicitly: Spark's ASC default, spelled out so
        // the oracle can match it
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first),
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
             |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             |    AS qty
             |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
             |ORDER BY l_returnflag ASC NULLS FIRST,
             |  l_linestatus ASC NULLS FIRST""".stripMargin)),

    "q7_percentiles" -> Q(
      (s, dir) => lineitem(s, dir)
        .groupBy("l_returnflag").agg(
          round(expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity)"), 6)
            .as("p50_qty"),
          round(expr("percentile_cont(0.9) WITHIN GROUP (ORDER BY l_extendedprice)"), 6)
            .as("p90_price"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             |  ROUND(quantile_cont(l_quantity, 0.5), 6) AS p50_qty,
             |  ROUND(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price
             |FROM lineitem GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // Quantiles over a DETERMINISTIC 10% hash sample — the scalable
    // estimation path (exact order statistics need a per-group sort;
    // the sample shrinks it 10× with a reproducible, nested,
    // engine-independent row selection). The oracle replays the exact
    // hash decision, so even the sample membership is verified.
    "q27_sampled_quantiles" -> Q(
      (s, dir) => Curation.hashSample(lineitem(s, dir),
          concat_ws("|", col("l_orderkey"), col("l_linenumber")),
          rate = 0.1)
        .groupBy("l_returnflag").agg(
          count(lit(1)).as("sample_rows"),
          round(expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY l_extendedprice)"), 6)
            .as("p50_price"),
          round(expr("percentile_cont(0.95) WITHIN GROUP (ORDER BY l_extendedprice)"), 6)
            .as("p95_price"))
        .orderBy("l_returnflag"),
      Some(s"""SELECT l_returnflag,
              |  CAST(count(*) AS BIGINT) AS sample_rows,
              |  ROUND(quantile_cont(l_extendedprice, 0.5), 6)
              |    AS p50_price,
              |  ROUND(quantile_cont(l_extendedprice, 0.95), 6)
              |    AS p95_price
              |FROM lineitem
              |WHERE (${duckHash60(
                 "CAST(l_orderkey AS VARCHAR) || '|' || " +
                   "CAST(l_linenumber AS VARCHAR)")}) % 1000000 < 100000
              |GROUP BY l_returnflag
              |ORDER BY l_returnflag""".stripMargin)),

    // Z-order (Morton) values for a 2-dim clustering of lineitem —
    // the multi-dim data-skipping layout (ScaleOpsSpec proves the
    // file-skipping); here the z computation itself is oracle-exact:
    // equi-width 8-bit bins from the data's min/max, bit interleave
    // as pure divide/modulo arithmetic.
    "q28_zorder_values" -> Q(
      (s, dir) => {
        val li = lineitem(s, dir)
        val r = li.agg(
          min(col("l_quantity").cast("double")),
          max(col("l_quantity").cast("double")),
          min(col("l_extendedprice").cast("double")),
          max(col("l_extendedprice").cast("double"))).head()
        val z = graft.io.TableLayout.zValue(Seq(
          graft.io.TableLayout.binColumn(col("l_quantity"),
            r.getDouble(0), r.getDouble(1), 8),
          graft.io.TableLayout.binColumn(col("l_extendedprice"),
            r.getDouble(2), r.getDouble(3), 8)), 8)
        // (l_orderkey, l_linenumber) is NOT unique in the fixtures —
        // zval joins the sort key to make the cut deterministic
        li.select(col("l_orderkey"),
            col("l_linenumber").cast("long").as("l_linenumber"),
            z.as("zval"))
          .orderBy("l_orderkey", "l_linenumber", "zval").limit(1000)
      },
      Some {
        val zTerms = (0 until 8).flatMap(b => Seq(
          s"((bq // ${1L << b}) % 2) * ${1L << (2 * b)}",
          s"((bp // ${1L << b}) % 2) * ${1L << (2 * b + 1)}"))
          .mkString(" + ")
        s"""WITH r AS (SELECT
           |    CAST(min(l_quantity) AS DOUBLE) AS q0,
           |    CAST(max(l_quantity) AS DOUBLE) AS q1,
           |    CAST(min(l_extendedprice) AS DOUBLE) AS p0,
           |    CAST(max(l_extendedprice) AS DOUBLE) AS p1
           |  FROM lineitem),
           |b AS (SELECT l_orderkey, l_linenumber,
           |    CASE WHEN q1 > q0 THEN greatest(0, least(255, CAST(floor(
           |      (CAST(l_quantity AS DOUBLE) - q0) / (q1 - q0) * 255)
           |      AS BIGINT))) ELSE 0 END AS bq,
           |    CASE WHEN p1 > p0 THEN greatest(0, least(255, CAST(floor(
           |      (CAST(l_extendedprice AS DOUBLE) - p0) / (p1 - p0) * 255)
           |      AS BIGINT))) ELSE 0 END AS bp
           |  FROM lineitem, r)
           |SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
           |  CAST($zTerms AS BIGINT) AS zval
           |FROM b ORDER BY l_orderkey, l_linenumber, zval
           |LIMIT 1000""".stripMargin
      }),

    // Event-type transition matrix (the Markov bigram of per-user
    // event streams): lead over the user partition — HIGH-cardinality
    // key, so each task sorts only its own users' events — then a
    // 25-cell aggregate. (user_id, ts) is unique in the fixtures;
    // event_id joins the order key as a defensive tie-break.
    "q31_transitions" -> Q(
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        rawEvents(s, dir)
          .select("user_id", "ts", "event_id", "event_type")
          .withColumn("next_type", lead(col("event_type"), 1).over(w))
          .filter(col("next_type").isNotNull)
          .groupBy(col("event_type").as("from_type"),
            col("next_type").as("to_type"))
          .agg(count(lit(1)).as("n"))
          .orderBy("from_type", "to_type")
      },
      Some("""WITH o AS (SELECT user_id, event_type,
             |    lead(event_type) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS next_type
             |  FROM events)
             |SELECT event_type AS from_type, next_type AS to_type,
             |  CAST(count(*) AS BIGINT) AS n
             |FROM o WHERE next_type IS NOT NULL
             |GROUP BY 1, 2 ORDER BY from_type, to_type""".stripMargin)),

    // Session-level aggregation via Spark's NATIVE session_window
    // operator (t1_sessionize is the lag+sum twin producing per-EVENT
    // session ids; this produces per-SESSION rows through the merging
    // session-window physical operator — one shuffle on user_id, no
    // window-function sort-per-row). Event-time ns is floored to µs
    // for the timestamp type; a 24h gap suits the synthetic cadence
    // (median inter-event gap ≈ 7 h → ~10 events/session). Spark
    // MERGES touching windows: an event exactly gap-after its
    // predecessor still JOINS the session, so the oracle breaks on
    // `gap_us > gap` — same convention as t1 — proven by
    // SessionWindowSpec's exact-boundary case.
    "q32_session_window" -> Q(
      (s, dir) => {
        rawEvents(s, dir)
          .select(col("user_id"),
            timestamp_micros(expr("ts div 1000")).as("t"))
          .groupBy(col("user_id"), session_window(col("t"), "24 hours"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("user_id"),
            unix_micros(col("session_window.start")).as("start_us"),
            unix_micros(col("session_window.end")).as("end_us"),
            col("n_events"))
          .orderBy("user_id", "start_us")
      },
      Some("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us
             |  FROM events),
             |b AS (SELECT user_id, us, event_id,
             |    CASE WHEN lag(us) OVER w IS NULL
             |      OR us - lag(us) OVER w > 86400000000
             |    THEN 1 ELSE 0 END AS brk
             |  FROM e WINDOW w AS (PARTITION BY user_id
             |    ORDER BY us, event_id)),
             |s AS (SELECT user_id, us,
             |    SUM(brk) OVER (PARTITION BY user_id
             |      ORDER BY us, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS sid
             |  FROM b)
             |SELECT user_id, MIN(us) AS start_us,
             |  MAX(us) + 86400000000 AS end_us,
             |  CAST(count(*) AS BIGINT) AS n_events
             |FROM s GROUP BY user_id, sid
             |ORDER BY user_id, start_us""".stripMargin)),

    // Tumbling-window aggregation via the native `window()` operator
    // (epoch-aligned 1 h buckets; the batch twin of the streaming
    // watermark+window aggregate). The value sum goes through integer
    // micro-units BEFORE aggregation (the d28 discipline) so it is
    // summation-order independent and hash-exact cross-engine. Plan:
    // scan → partial agg → one exchange on (type, window) — window()
    // is a row-local projection, never a shuffle by itself.
    // Operational anomaly detection on event-rate buckets: hourly
    // counts z-scored against the bucket population, with mean/sigma
    // derived from EXACT integer sums (count/sum/sum-of-squares over
    // the bucket frame — one extra aggregation over a buckets-sized
    // input) fetched driver-side as a 1-row parameter and folded in
    // as literals. The z computation mirrors the oracle expression
    // for expression, so scores are bit-identical; the anomaly flag
    // is an integer compare on the micro-score. The bucket frame
    // (one row per hour — tiny at any corpus size) is persisted
    // before the stats fetch so the z-score projection reads the
    // cache: one scan of the events fact table total, not two.
    "q38_anomaly_buckets" -> Q(
      (s, dir) => {
        val buckets = rawEvents(s, dir)
          .select(expr(
            "((ts div 1000) div 3600000000) * 3600000000")
            .as("start_us"))
          .groupBy("start_us").agg(count(lit(1)).as("n"))
          .persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val st = buckets.agg(count(lit(1)).as("m"),
          sum(col("n")).as("sn"),
          sum(col("n") * col("n")).as("snn")).head()
        val (m, sn, snn) = (st.getLong(0), st.getLong(1), st.getLong(2))
        val mean = sn.toDouble / m
        val sd = math.sqrt(
          (m.toDouble * snn - sn.toDouble * sn) / (m.toDouble * m))
        buckets.select(col("start_us"), col("n"),
            round((col("n").cast("double") - lit(mean)) / lit(sd)
              * lit(1e6)).cast("long").as("z_micro"))
          .withColumn("is_anomaly", abs(col("z_micro")) >= lit(2000000L))
          .orderBy("start_us").limit(2000)
      },
      Some("""WITH b AS (SELECT
             |    (epoch_us(ts) // 3600000000) * 3600000000 AS start_us,
             |    CAST(count(*) AS BIGINT) AS n
             |  FROM events GROUP BY 1),
             |s AS (SELECT CAST(count(*) AS BIGINT) AS m,
             |    CAST(sum(n) AS BIGINT) AS sn,
             |    CAST(sum(n*n) AS BIGINT) AS snn FROM b)
             |SELECT start_us, n,
             |  CAST(ROUND((CAST(n AS DOUBLE) - CAST(sn AS DOUBLE) / m)
             |    / sqrt((CAST(m AS DOUBLE) * snn
             |            - CAST(sn AS DOUBLE) * sn)
             |           / (CAST(m AS DOUBLE) * m)) * 1e6)
             |    AS BIGINT) AS z_micro,
             |  (abs(CAST(ROUND((CAST(n AS DOUBLE)
             |      - CAST(sn AS DOUBLE) / m)
             |    / sqrt((CAST(m AS DOUBLE) * snn
             |            - CAST(sn AS DOUBLE) * sn)
             |           / (CAST(m AS DOUBLE) * m)) * 1e6) AS BIGINT))
             |    >= 2000000) AS is_anomaly
             |FROM b, s ORDER BY start_us LIMIT 2000""".stripMargin)),

    "q33_tumbling_window" -> Q(
      (s, dir) => rawEvents(s, dir)
        .select(col("event_type"),
          timestamp_micros(expr("ts div 1000")).as("t"),
          col("value"))
        .groupBy(col("event_type"), window(col("t"), "1 hour"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * lit(1e6)).cast("long"))
            .as("value_micro"))
        .select(col("event_type"),
          unix_micros(col("window.start")).as("start_us"),
          col("n"), col("value_micro"))
        .orderBy("event_type", "start_us").limit(5000),
      Some("""SELECT event_type,
             |  (epoch_us(ts) // 3600000000) * 3600000000 AS start_us,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(SUM(CAST(ROUND(value * 1e6) AS BIGINT)) AS BIGINT)
             |    AS value_micro
             |FROM events GROUP BY 1, 2
             |ORDER BY event_type, start_us LIMIT 5000""".stripMargin)),

    // Sliding-window aggregation (1 h window, 30 min slide): every
    // event lands in exactly window/slide = 2 buckets — window() does
    // the 2-way replication as a row-local generate, so the aggregate
    // input doubles but the shuffle key stays (type, window-start).
    // The oracle replays the replication with unnest over the two
    // epoch-aligned covering starts.
    "q34_sliding_window" -> Q(
      (s, dir) => rawEvents(s, dir)
        .select(col("event_type"),
          timestamp_micros(expr("ts div 1000")).as("t"))
        .groupBy(col("event_type"),
          window(col("t"), "1 hour", "30 minutes"))
        .agg(count(lit(1)).as("n"))
        .select(col("event_type"),
          unix_micros(col("window.start")).as("start_us"),
          col("n"))
        .orderBy("event_type", "start_us").limit(8000),
      Some("""WITH e AS (SELECT event_type, epoch_us(ts) AS us
             |  FROM events),
             |w AS (SELECT event_type, us, unnest(ARRAY[
             |    (us // 1800000000) * 1800000000 - 1800000000,
             |    (us // 1800000000) * 1800000000]) AS start_us
             |  FROM e)
             |SELECT event_type, start_us, CAST(count(*) AS BIGINT) AS n
             |FROM w
             |WHERE us >= start_us AND us < start_us + 3600000000
             |GROUP BY 1, 2
             |ORDER BY event_type, start_us LIMIT 8000""".stripMargin)),

    // Sequential funnel (view → click within an hour → purchase
    // within an hour, first-qualifying step semantics) — the other
    // canonical event-log product analytic next to retention. Each
    // stage is a type-filtered scan aggregated and joined on user_id;
    // ts compares as exact integer nanoseconds. The deadline constant
    // is SHARED with the streaming form (FunnelStream) so the two
    // implementations cannot silently diverge.
    "q30_funnel" -> Q(
      (s, dir) => {
        val hourNs = graft.streaming.FunnelStream.HourNs
        val ev = rawEvents(s, dir).select("user_id", "event_type", "ts")
        val t1 = ev.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min("ts").as("t1"))
        val t2 = ev.filter(col("event_type") === "click")
          .join(t1, "user_id")
          .filter(col("ts") > col("t1") && col("ts") < col("t1") + hourNs)
          .groupBy("user_id").agg(min("ts").as("t2"))
        val t3 = ev.filter(col("event_type") === "purchase")
          .join(t2, "user_id")
          .filter(col("ts") > col("t2") && col("ts") < col("t2") + hourNs)
          .groupBy("user_id").agg(min("ts").as("t3"))
        Seq("1_view" -> t1, "2_click" -> t2, "3_purchase" -> t3)
          .map { case (nm, df) => df.agg(count(lit(1)).as("users"))
            .select(lit(nm).as("stage"), col("users")) }
          .reduce(_ unionAll _)
          .orderBy("stage")
      },
      Some("""WITH t1 AS (SELECT user_id, min(ts) AS t1 FROM events
             |  WHERE event_type = 'view' GROUP BY user_id),
             |t2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
             |  JOIN t1 USING (user_id)
             |  WHERE e.event_type = 'click' AND e.ts > t1.t1
             |    AND e.ts < t1.t1 + INTERVAL 1 HOUR
             |  GROUP BY e.user_id),
             |t3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
             |  JOIN t2 USING (user_id)
             |  WHERE e.event_type = 'purchase' AND e.ts > t2.t2
             |    AND e.ts < t2.t2 + INTERVAL 1 HOUR
             |  GROUP BY e.user_id)
             |SELECT '1_view' AS stage, CAST(count(*) AS BIGINT) AS users
             |FROM t1
             |UNION ALL SELECT '2_click', CAST(count(*) AS BIGINT) FROM t2
             |UNION ALL SELECT '3_purchase', CAST(count(*) AS BIGINT)
             |FROM t3
             |ORDER BY stage""".stripMargin)),

    // Batch REPLAY of the STREAMING funnel (FunnelStream.stageHits):
    // events split into three deterministic time-tertile batches, the
    // per-user state machine folds forward batch-by-batch via a typed
    // cogroup (the same applyEvent transition the streaming wirings
    // run — no driver state, both sides user-keyed), and the
    // cumulative hits after each prefix must equal the ONE-SHOT q30
    // funnel on that prefix — the in-order fold composes. The oracle
    // recomputes every prefix's funnel directly; the q56/q66/d41
    // stream-replay convention applied to the last uncovered
    // streaming family.
    "q71_funnel_stream_replay" -> Q(
      (s, dir) => {
        import s.implicits._
        val hourNs = graft.streaming.FunnelStream.HourNs
        val ev = rawEvents(s, dir)
          .select(col("user_id"), col("event_type"), col("ts"))
        // 1-row bounded parameter fetch, folded in as literals (the
        // house rule: a constant-key join would plan a BNLJ)
        val r = ev.agg(min("ts").as("mn"), max("ts").as("mx")).head()
        val (mn, mx) = (r.getLong(0), r.getLong(1))
        val span = mx - mn + 1
        val withB = ev.withColumn("_b",
          expr(s"((ts - $mn) * 3) div $span"))
        val batches = (0L to 2L).map(b =>
          withB.filter(col("_b") === b).drop("_b")
            .as[graft.streaming.FunnelEvent])
        val perBatch =
          graft.streaming.FunnelStream.replayStageHits(batches, hourNs)
        val all = perBatch.zipWithIndex
          .map { case (h, i) =>
            h.toDF().withColumn("_hb", lit(i.toLong)) }
          .reduce(_ unionAll _)
        // a hit emitted in batch b is part of every prefix >= b
        val cum = all.select(col("stage"),
            explode(sequence(col("_hb"), lit(2L))).as("batch_id"))
          .groupBy("batch_id", "stage").agg(count(lit(1)).as("users"))
        // literal 9-row (batch, stage) frame — a crossJoin of two
        // constant frames would plan the banned BroadcastNestedLoopJoin
        val frame = (for (b <- 0L to 2L;
          st <- Seq("1_view", "2_click", "3_purchase"))
          yield (b, st)).toDF("batch_id", "stage")
        frame.join(cum, Seq("batch_id", "stage"), "left")
          .select(col("batch_id"), col("stage"),
            coalesce(col("users"), lit(0L)).as("users"))
          .orderBy("batch_id", "stage")
      },
      Some("""WITH rng AS (SELECT min(epoch_ns(ts)) AS mn,
             |    max(epoch_ns(ts)) AS mx FROM events),
             |e AS (SELECT user_id, event_type, epoch_ns(ts) AS tn,
             |    ((epoch_ns(ts) - rng.mn) * 3) // (rng.mx - rng.mn + 1)
             |      AS b
             |  FROM events, rng),
             |p AS (SELECT gb.b AS pb FROM generate_series(0, 2) gb(b)),
             |t1 AS (SELECT p.pb, e.user_id, min(e.tn) AS t1
             |  FROM p JOIN e ON e.b <= p.pb
             |  WHERE e.event_type = 'view' GROUP BY p.pb, e.user_id),
             |t2 AS (SELECT t1.pb, e.user_id, min(e.tn) AS t2
             |  FROM e JOIN t1 ON e.b <= t1.pb AND e.user_id = t1.user_id
             |  WHERE e.event_type = 'click' AND e.tn > t1.t1
             |    AND e.tn < t1.t1 + 3600000000000
             |  GROUP BY t1.pb, e.user_id),
             |t3 AS (SELECT t2.pb, e.user_id, min(e.tn) AS t3
             |  FROM e JOIN t2 ON e.b <= t2.pb AND e.user_id = t2.user_id
             |  WHERE e.event_type = 'purchase' AND e.tn > t2.t2
             |    AND e.tn < t2.t2 + 3600000000000
             |  GROUP BY t2.pb, e.user_id),
             |c AS (SELECT pb, '1_view' AS stage,
             |    CAST(count(*) AS BIGINT) AS users FROM t1 GROUP BY pb
             |  UNION ALL SELECT pb, '2_click', CAST(count(*) AS BIGINT)
             |    FROM t2 GROUP BY pb
             |  UNION ALL SELECT pb, '3_purchase',
             |    CAST(count(*) AS BIGINT) FROM t3 GROUP BY pb)
             |SELECT CAST(p.pb AS BIGINT) AS batch_id,
             |  st.stage AS stage,
             |  COALESCE(c.users, CAST(0 AS BIGINT)) AS users
             |FROM p CROSS JOIN (SELECT unnest(
             |    ['1_view', '2_click', '3_purchase']) AS stage) st
             |LEFT JOIN c ON c.pb = p.pb AND c.stage = st.stage
             |ORDER BY batch_id, st.stage""".stripMargin)),

    // Retention cohorts — the standard event-log product analytics:
    // users bucketed by first-seen day, distinct actives per
    // (cohort, day offset). Day index via exact integer ns division
    // (a double division of epoch-ns would round across midnight).
    // Shape: map-side (user, day) dedupe → per-user min → user-keyed
    // join (reuses the same shuffle key) → small final aggregate.
    "q29_retention_cohorts" -> Q(
      (s, dir) => {
        val userDay = rawEvents(s, dir).select(col("user_id"),
            expr("ts div 86400000000000").as("day")).distinct()
        val first = userDay.groupBy("user_id")
          .agg(min(col("day")).as("cohort_day"))
        // count, not countDistinct: the input is the DISTINCT
        // (user, day) frame joined to one row per user, so a user
        // appears at most once per (cohort, offset) group — the
        // distinct-aggregate would add a second expansion shuffle
        // over the largest intermediate for zero semantic gain
        userDay.join(first, "user_id")
          .groupBy(col("cohort_day"),
            (col("day") - col("cohort_day")).as("day_offset"))
          .agg(count(lit(1)).as("active_users"))
          .orderBy("cohort_day", "day_offset").limit(2000)
      },
      Some("""WITH ud AS (SELECT DISTINCT user_id,
             |    CAST(epoch_ns(ts) // 86400000000000 AS BIGINT) AS day
             |  FROM events),
             |f AS (SELECT user_id, min(day) AS cohort_day FROM ud
             |  GROUP BY user_id)
             |SELECT f.cohort_day, ud.day - f.cohort_day AS day_offset,
             |  CAST(count(DISTINCT ud.user_id) AS BIGINT) AS active_users
             |FROM ud JOIN f USING (user_id)
             |GROUP BY 1, 2 ORDER BY cohort_day, day_offset
             |LIMIT 2000""".stripMargin)),

    // Data-quality profile (the Deequ/Great-Expectations stage): per
    // column, null count / exact distinct / min / max — ONE
    // aggregation pass over the frame (Spark expands the multi-
    // distinct internally; at 100 TB swap countDistinct for the q8
    // HLL sketch to keep it a single non-expanded pass), unpivoted to
    // long form via stack.
    "d26_profile" -> Q(
      (s, dir) => {
        val cols = Seq("event_id", "user_id", "selected_candidate_rank")
        val c = commits(s, dir).select(cols.map(col): _*)
        // null count as count(*) − count(col) — the oracle's own
        // formula, and null-safe on an empty frame (sum(when...) over
        // zero rows would yield NULL, not 0)
        val aggs = cols.flatMap(cn => Seq(
          (count(lit(1)) - count(col(cn))).as(s"${cn}_nulls"),
          countDistinct(col(cn)).as(s"${cn}_nd"),
          min(col(cn)).cast("double").as(s"${cn}_min"),
          max(col(cn)).cast("double").as(s"${cn}_max")))
        c.agg(aggs.head, aggs.tail: _*)
          .select(expr("stack(3, " + cols.map(cn =>
              s"'$cn', ${cn}_nulls, ${cn}_nd, ${cn}_min, ${cn}_max")
            .mkString(", ") +
            ") AS (column_name, n_nulls, n_distinct, min_val, max_val)"))
          .orderBy("column_name")
      },
      Some(s"""$commitsCte
              |SELECT * FROM (
              |  SELECT 'event_id' AS column_name,
              |    CAST(count(*) - count(event_id) AS BIGINT) AS n_nulls,
              |    CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
              |    CAST(min(event_id) AS DOUBLE) AS min_val,
              |    CAST(max(event_id) AS DOUBLE) AS max_val FROM c
              |  UNION ALL
              |  SELECT 'user_id',
              |    CAST(count(*) - count(user_id) AS BIGINT),
              |    CAST(count(DISTINCT user_id) AS BIGINT),
              |    CAST(min(user_id) AS DOUBLE),
              |    CAST(max(user_id) AS DOUBLE) FROM c
              |  UNION ALL
              |  SELECT 'selected_candidate_rank',
              |    CAST(count(*) - count(selected_candidate_rank) AS BIGINT),
              |    CAST(count(DISTINCT selected_candidate_rank) AS BIGINT),
              |    CAST(min(selected_candidate_rank) AS DOUBLE),
              |    CAST(max(selected_candidate_rank) AS DOUBLE) FROM c) u
              |ORDER BY column_name""".stripMargin)),

    "q11_set_except" -> Q(
      (s, dir) => {
        val ev = rawEvents(s, dir)
        val t = timestamp_micros(expr("ts div 1000"))
        def userDays(ty: String) = ev.filter(col("event_type") === ty)
          .select(col("user_id"), month(t).cast("long").as("m"),
            dayofmonth(t).cast("long").as("d")).distinct()
        userDays("click").except(userDays("purchase"))
          .orderBy("user_id", "m", "d").limit(2000)
      },
      Some("""SELECT DISTINCT user_id, CAST(month(ts) AS BIGINT) AS m,
             |  CAST(day(ts) AS BIGINT) AS d
             |FROM events WHERE event_type = 'click'
             |EXCEPT
             |SELECT DISTINCT user_id, CAST(month(ts) AS BIGINT),
             |  CAST(day(ts) AS BIGINT)
             |FROM events WHERE event_type = 'purchase'
             |ORDER BY user_id, m, d LIMIT 2000""".stripMargin)),

    "q9_window_rank" -> Q(
      (s, dir) => {
        val w = Window.partitionBy("l_returnflag")
          .orderBy(col("l_quantity").desc, col("l_orderkey").asc,
            col("l_linenumber").asc)
        lineitem(s, dir)
          .select(col("l_returnflag"), col("l_orderkey"),
            col("l_linenumber"),
            rank().over(w).cast("long").as("qty_rank"),
            dense_rank().over(w).cast("long").as("qty_dense_rank"))
          .filter(col("qty_rank") <= 20)
          .orderBy("l_returnflag", "qty_rank", "l_orderkey", "l_linenumber")
          .limit(100)
      },
      Some(duckQtyRankSql)),

    // The scale path for q9's semantics: bounded TopK aggregator
    // (partial top-k per map task, k-row buffers through the exchange)
    // instead of a full per-partition window sort — the window form
    // sorts 1/3 of the table per task at any scale because
    // l_returnflag has 3 values. Same oracle as q9: the window
    // ordering is total (PK suffix), so rank == dense_rank ==
    // position in the top-k buffer.
    "q12_group_topk" -> Q(
      (s, dir) => {
        import s.implicits._
        implicit val ord: Ordering[(Double, Long, Long)] =
          Ordering.by[(Double, Long, Long), (Double, Long, Long)](
            { case (q, o, l) => (-q, o, l) })(
            Ordering.Tuple3(Ordering.Double.TotalOrdering, Ordering.Long,
              Ordering.Long))
        val top = lineitem(s, dir).groupBy("l_returnflag")
          .agg(graft.functions.TopK.agg[(Double, Long, Long)](20,
            col("l_quantity").cast("double"), col("l_orderkey"),
            col("l_linenumber").cast("long")).as("top"))
        top.select(col("l_returnflag"),
            posexplode(col("top")).as(Seq("pos", "row")))
          .select(col("l_returnflag"),
            col("row._2").as("l_orderkey"),
            col("row._3").cast("int").as("l_linenumber"),
            (col("pos") + 1).cast("long").as("qty_rank"),
            (col("pos") + 1).cast("long").as("qty_dense_rank"))
          .orderBy("l_returnflag", "qty_rank", "l_orderkey", "l_linenumber")
          .limit(100)
      },
      Some(duckQtyRankSql)),

    "q10_running_sum" -> Q(
      (s, dir) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        rawEvents(s, dir)
          .select(col("event_id"), col("user_id"),
            round(sum(col("value")).over(w), 6).as("running_value"))
          .orderBy("event_id").limit(1000)
      },
      Some("""SELECT event_id, user_id,
             |  ROUND(SUM(value) OVER (PARTITION BY user_id
             |    ORDER BY ts, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
             |    AS running_value
             |FROM events ORDER BY event_id LIMIT 1000""".stripMargin)),

    // ---- broader relational surface: semi/anti joins, cube,
    // lead/lag, ntile, correlated subquery, union ----------------------
    "q13_semi_join" -> Q(
      (s, dir) => table(s, dir, "orders")
        .join(lineitem(s, dir).filter(col("l_quantity") > 49),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select("o_orderkey", "o_orderstatus")
        .orderBy("o_orderkey").limit(1000),
      Some("""SELECT o_orderkey, o_orderstatus FROM orders
             |WHERE EXISTS (SELECT 1 FROM lineitem
             |  WHERE l_orderkey = o_orderkey AND l_quantity > 49)
             |ORDER BY o_orderkey LIMIT 1000""".stripMargin)),

    "q14_anti_join" -> Q(
      (s, dir) => table(s, dir, "orders")
        .join(lineitem(s, dir).filter(col("l_quantity") > 45),
          col("o_orderkey") === col("l_orderkey"), "left_anti")
        .select("o_orderkey", "o_orderstatus")
        .orderBy("o_orderkey").limit(1000),
      Some("""SELECT o_orderkey, o_orderstatus FROM orders
             |WHERE NOT EXISTS (SELECT 1 FROM lineitem
             |  WHERE l_orderkey = o_orderkey AND l_quantity > 45)
             |ORDER BY o_orderkey LIMIT 1000""".stripMargin)),

    "q15_cube" -> Q(
      (s, dir) => lineitem(s, dir)
        .cube("l_returnflag", "l_linestatus").agg(
          count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)"))
            .cast("double").as("qty"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first),
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
             |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             |    AS qty
             |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
             |ORDER BY l_returnflag ASC NULLS FIRST,
             |  l_linestatus ASC NULLS FIRST""".stripMargin)),

    "q16_lead_lag" -> Q(
      (s, dir) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
        // gap in µs: DuckDB reads the nanos timestamps truncated to
        // micros, so the ns-exact gap would differ below the µs digit
        val us = expr("ts div 1000")
        rawEvents(s, dir).select(col("event_id"), col("user_id"),
            lead(col("event_type"), 1).over(w).as("next_type"),
            (us - lag(us, 1).over(w)).as("gap_us"))
          .orderBy("event_id").limit(1000)
      },
      Some("""SELECT event_id, user_id,
             |  lead(event_type) OVER w AS next_type,
             |  epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us
             |FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
             |ORDER BY event_id LIMIT 1000""".stripMargin)),

    "q17_ntile" -> Q(
      (s, dir) => {
        val w = Window.partitionBy("l_returnflag")
          .orderBy(col("l_extendedprice"), col("l_orderkey"),
            col("l_linenumber"))
        quartileStats(lineitem(s, dir)
          .select(col("l_returnflag"),
            ntile(4).over(w).cast("long").as("quartile"),
            col("l_extendedprice")))
      },
      Some(duckNtileSql)),

    // Scale-safe twin of q17 (same oracle): ntile(4) recomputed by
    // graft.ops.DistributedRank — range-bucketed exact ranks, so the
    // only row-level window partitions by (l_returnflag, cell) instead
    // of sorting ⅓ of the table per task. Mirrors the q9→q12 move.
    "q17b_ntile_bucketed" -> Q(
      (s, dir) => bucketedQuartiles(s, dir, balanced = false),
      Some(duckNtileSql)),

    // q17b with PERCENTILE-derived cells (bucketedRankBalanced): the
    // skew-robust bucketizer — equi-width cells collapse under a
    // heavy-tailed value and the per-task sort degenerates toward the
    // full-partition window; percentile boundaries keep cells
    // near-equal for any value distribution. Ranks (and therefore
    // tiles) are IDENTICAL by construction, so the oracle is q17b's:
    // the entry pins that boundary placement never moves the answer.
    "q17c_ntile_balanced" -> Q(
      (s, dir) => bucketedQuartiles(s, dir, balanced = true),
      Some(duckNtileSql)),

    // Correlated scalar subquery through spark.sql — Catalyst
    // decorrelates it into the aggregate+join plan a 100 TB run needs
    // (audited in PLANS.md; no per-row subquery execution exists in
    // Spark's physical space).
    "q18_corr_subquery" -> Q(
      (s, dir) => {
        table(s, dir, "part").createOrReplaceTempView("part_v")
        s.sql("""SELECT p_partkey, p_brand,
                |  CAST(p_retailprice AS DOUBLE) AS p_retailprice
                |FROM part_v p
                |WHERE p_retailprice > (SELECT avg(p2.p_retailprice)
                |  FROM part_v p2 WHERE p2.p_brand = p.p_brand)
                |ORDER BY p_partkey LIMIT 1000""".stripMargin)
      },
      Some("""SELECT p_partkey, p_brand,
             |  CAST(p_retailprice AS DOUBLE) AS p_retailprice
             |FROM part p
             |WHERE p_retailprice > (SELECT avg(p2.p_retailprice)
             |  FROM part p2 WHERE p2.p_brand = p.p_brand)
             |ORDER BY p_partkey LIMIT 1000""".stripMargin)),

    "q19_union_agg" -> Q(
      (s, dir) => {
        val ev = rawEvents(s, dir)
        val t = timestamp_micros(expr("ts div 1000"))
        def side(ty: String) = ev.filter(col("event_type") === ty)
          .select(lit(ty).as("src"), month(t).cast("long").as("m"))
        side("click").unionByName(side("purchase"))
          .groupBy("src", "m").agg(count(lit(1)).as("n"))
          .orderBy("src", "m")
      },
      Some("""SELECT src, m, count(*) AS n FROM (
             |  SELECT 'click' AS src, CAST(month(ts) AS BIGINT) AS m
             |  FROM events WHERE event_type = 'click'
             |  UNION ALL
             |  SELECT 'purchase', CAST(month(ts) AS BIGINT)
             |  FROM events WHERE event_type = 'purchase') u
             |GROUP BY src, m ORDER BY src, m""".stripMargin)),

    // RANGE-frame window: events per user in the trailing hour — the
    // telemetry rolling count. The frame is value-based (µs offsets),
    // so peers at equal ts aggregate together in both engines.
    "q21_range_frame" -> Q(
      (s, dir) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts_us"))
          .rangeBetween(-3600000000L, 0)
        rawEvents(s, dir)
          .withColumn("ts_us", expr("ts div 1000"))
          .select(col("event_id"), col("user_id"),
            count(lit(1)).over(w).as("events_last_hour"))
          .orderBy("event_id").limit(1000)
      },
      Some("""SELECT event_id, user_id,
             |  count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
             |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
             |    AS events_last_hour
             |FROM events ORDER BY event_id LIMIT 1000""".stripMargin)),

    // Pivot: per-user event-type counts as columns (fixed value list →
    // a single pass of conditional aggregates, no extra shuffle).
    "q22_pivot" -> Q(
      (s, dir) => rawEvents(s, dir)
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "view", "purchase"))
        .agg(count(lit(1)))
        .na.fill(0L, Seq("click", "view", "purchase"))
        .orderBy("user_id").limit(1000),
      Some("""SELECT user_id,
             |  count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
             |  count(CASE WHEN event_type = 'view' THEN 1 END) AS view,
             |  count(CASE WHEN event_type = 'purchase' THEN 1 END)
             |    AS purchase
             |FROM events GROUP BY user_id
             |ORDER BY user_id LIMIT 1000""".stripMargin)),

    // UNPIVOT (stack): wide aggregate row → (metric, value) long form.
    // Generate runs inside the same stage as the aggregate output —
    // no extra shuffle beyond the groupBy's.
    "q23_unpivot" -> Q(
      (s, dir) => lineitem(s, dir)
        .groupBy("l_linestatus").agg(
          sum(col("l_quantity").cast("decimal(18,2)"))
            .cast("double").as("qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double").as("price"))
        .selectExpr("l_linestatus",
          "stack(2, 'qty', qty, 'price', price) AS (metric, value)")
        .orderBy("l_linestatus", "metric"),
      Some("""WITH a AS (SELECT l_linestatus,
             |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             |      AS qty,
             |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
             |      AS DOUBLE) AS price
             |  FROM lineitem GROUP BY 1)
             |SELECT l_linestatus, 'qty' AS metric, qty AS value FROM a
             |UNION ALL
             |SELECT l_linestatus, 'price', price FROM a
             |ORDER BY l_linestatus, metric""".stripMargin)),

    // INTERSECT: set semantics via the built-in left-semi + distinct
    // rewrite (no manual dedup).
    "q24_intersect" -> Q(
      (s, dir) => table(s, dir, "customer")
        .select(col("c_nationkey").cast("long").as("nationkey"))
        .intersect(table(s, dir, "supplier")
          .select(col("s_nationkey").cast("long").as("nationkey")))
        .orderBy("nationkey").limit(100),
      Some("""SELECT CAST(c_nationkey AS BIGINT) AS nationkey
             |FROM customer
             |INTERSECT
             |SELECT CAST(s_nationkey AS BIGINT) FROM supplier
             |ORDER BY nationkey LIMIT 100""".stripMargin)),

    // Skew-salted two-level aggregation on the driver-verified path:
    // identical result to a plain groupBy count (the salt only spreads
    // the hot keys over `buckets` reduce tasks before the final
    // combine). committed_text is the Zipf-skewed key at 100 TB.
    "q20_salted_agg" -> Q(
      (s, dir) => graft.ops.Skew.saltedCount(commits(s, dir),
          col("committed_text"), col("event_id"), buckets = 16)
        .withColumnRenamed("key", "committed_text")
        .orderBy("committed_text"),
      Some(s"""$commitsCte
              |SELECT committed_text, count(*) AS count FROM c
              |GROUP BY committed_text
              |ORDER BY committed_text""".stripMargin)),

    "q4_dim_rollup" -> Q(
      (s, dir) => table(s, dir, "supplier")
        .join(broadcast(table(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(table(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name").agg(
          count(lit(1)).as("n_suppliers"),
          sum(col("s_acctbal").cast("decimal(18,2)"))
            .cast("double").as("total_bal"))
        .orderBy("r_name", "n_name"),
      Some("""SELECT r_name, n_name, count(*) AS n_suppliers,
             |  CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total_bal
             |FROM supplier
             |JOIN nation ON s_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin)),

    // ---- LLM-data-pipeline: dedup (driver-mandated, SURVEY §7.2 M4) ---
    "d1_exact_dedup" -> Q(
      (s, dir) => Dedup
        .exactDedupSummary(table(s, dir, "documents"), "doc_id", "text")
        .orderBy("keep_id"),
      Some("""SELECT sha256(text) AS content_hash,
             |  CAST(min(doc_id) AS BIGINT) AS keep_id,
             |  count(*) AS dup_count
             |FROM documents GROUP BY sha256(text)
             |ORDER BY keep_id""".stripMargin)),

    "d4_jaccard_pairs" -> Q(
      (s, dir) => Dedup.jaccardPairs(table(s, dir, "documents"),
          "doc_id", "text", blockCols = Seq("lang", "source"),
          threshold = 0.5)
        .orderBy("id_a", "id_b").limit(2000),
      Some("""WITH tok AS (SELECT doc_id, lang, source,
             |    unnest(list_distinct(str_split(text, ' '))) AS t
             |  FROM documents),
             |sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
             |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |    count(*) AS i
             |  FROM tok a JOIN tok b ON a.t = b.t AND a.lang = b.lang
             |    AND a.source = b.source AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2)
             |SELECT id_a, id_b,
             |  ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
             |FROM inter JOIN sz sa ON sa.doc_id = id_a
             |JOIN sz sb ON sb.doc_id = id_b
             |WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5
             |ORDER BY id_a, id_b LIMIT 2000""".stripMargin)),

    // xxhash64-based MinHash/LSH (the fast pipeline path — one codegen
    // hash per probe) has no DuckDB equivalent → rows-only driver
    // check; semantics covered by unit/property tests plus the
    // oracle-exact portable twin d10 below.
    "d6_minhash_pairs" -> Q(
      (s, dir) => Dedup
        .minhashCandidatePairs(table(s, dir, "documents"), "doc_id", "text")
        .orderBy("id_a", "id_b").limit(2000),
      None),

    // Portable MinHash+LSH: md5-based signatures and band hashes, every
    // stage (shingling → k minima → banding → bucket join) recomputed
    // by the oracle bit for bit.
    "d10_minhash_portable" -> Q(
      (s, dir) => Dedup.minhashCandidatePairsPortable(
          table(s, dir, "documents"), "doc_id", "text")
        .orderBy("id_a", "id_b").limit(2000),
      Some(s"""WITH doc AS (SELECT doc_id,
              |    list_distinct(list_transform(
              |      generate_series(0, greatest(len(toks) - 3, 0)),
              |      i -> array_to_string(toks[i+1:i+3], ' '))) AS sh
              |  FROM (SELECT doc_id, str_split(text, ' ') AS toks
              |        FROM documents) t),
              |hs AS (SELECT doc_id, g.j,
              |    min(((${duckHash60("u.s")} % 2147483647)
              |      * (2*g.j + 1) + g.j*g.j) % 2147483647)
              |      AS sig
              |  FROM doc, unnest(sh) AS u(s), generate_series(0, 11) AS g(j)
              |  GROUP BY doc_id, g.j),
              |band AS (SELECT doc_id, j // 3 AS b,
              |    md5(CAST(j // 3 AS VARCHAR) || '|' ||
              |      string_agg(CAST(sig AS VARCHAR), ',' ORDER BY j)) AS h
              |  FROM hs GROUP BY doc_id, j // 3)
              |SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
              |FROM band a JOIN band b2
              |  ON a.b = b2.b AND a.h = b2.h AND a.doc_id < b2.doc_id
              |ORDER BY id_a, id_b LIMIT 2000""".stripMargin)),

    "d7_simhash" -> Q(
      // spread (r14, guide §2.5): the per-token md5 vote is heavy
      // map work and a single-row-group scan ran it one-threaded;
      // the TakeOrdered tail merges per-partition heaps identically
      (s, dir) => graft.pipeline.ExprUtils
        .spread(table(s, dir, "documents"))
        .select(col("doc_id"),
          Dedup.simhash60Portable(split(col("text"), " ")).as("simhash"))
        .orderBy("doc_id").limit(500),
      Some(s"""WITH tok AS (SELECT doc_id, unnest(str_split(text, ' ')) AS t
              |  FROM documents),
              |h AS (SELECT doc_id, ${duckHash60("t")} AS hv FROM tok),
              |bits AS (SELECT doc_id, g.b,
              |    SUM(CASE WHEN (hv >> g.b) & 1 = 1 THEN 1 ELSE -1 END)
              |      AS vote
              |  FROM h, generate_series(0, 59) AS g(b)
              |  GROUP BY doc_id, g.b)
              |SELECT doc_id,
              |  CAST(SUM(CASE WHEN vote > 0
              |    THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT)
              |    AS simhash
              |FROM bits GROUP BY doc_id
              |ORDER BY doc_id LIMIT 500""".stripMargin)),

    // EXACT Hamming-neighborhood join over the d7 simhashes: all
    // pairs within distance 3, by banding (4 bands of 15 bits) +
    // xor/bit_count verify — pigeonhole makes it exact (≤3 differing
    // bits cannot touch all 4 bands, so every qualifying pair shares
    // an intact band), never all-pairs. The retrieval step d7's
    // exact-equality clustering was missing.
    // Fingerprints come from the NATIVE one-pass kernel
    // (Md5SimHash60): d7 keeps the declarative form under its oracle,
    // this entry pins the native twin, and DedupSpec pins their
    // equality — both forms stay oracle-covered. The 60-lambda
    // interpreted vote loop was the measured bulk of this entry's
    // pinned-lineage build.
    "d54_simhash_neighbors" -> Q(
      (s, dir) => Dedup.bandedHammingPairs(
          table(s, dir, "documents").select(col("doc_id"),
            Dedup.simhash60PortableNative(split(col("text"), " "))
              .as("simhash")),
          "doc_id", "simhash", bits = 60, bands = 4, maxDist = 3,
          counterTag = Some("d54_simhash_neighbors"))
        .orderBy("id_a", "id_b").limit(5000),
      Some(s"""WITH tok AS (SELECT doc_id,
              |    unnest(str_split(text, ' ')) AS t
              |  FROM documents),
              |hh AS (SELECT doc_id, ${duckHash60("t")} AS hv FROM tok),
              |sbits AS (SELECT doc_id, g.b,
              |    SUM(CASE WHEN (hv >> g.b) & 1 = 1 THEN 1 ELSE -1 END)
              |      AS vote
              |  FROM hh, generate_series(0, 59) AS g(b)
              |  GROUP BY doc_id, g.b),
              |sh AS (SELECT doc_id,
              |    CAST(SUM(CASE WHEN vote > 0
              |      THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
              |      AS BIGINT) AS simhash
              |  FROM sbits GROUP BY doc_id),
              |bnd AS (SELECT doc_id, simhash, g.b,
              |    (simhash >> (g.b * 15)) & 32767 AS bv
              |  FROM sh, generate_series(0, 3) AS g(b)),
              |cp AS (SELECT DISTINCT a.doc_id AS id_a,
              |    a.simhash AS ha, b.doc_id AS id_b, b.simhash AS hb
              |  FROM bnd a JOIN bnd b
              |    ON a.b = b.b AND a.bv = b.bv
              |   AND a.doc_id < b.doc_id)
              |SELECT id_a, id_b,
              |  CAST(bit_count(xor(ha, hb)) AS BIGINT) AS dist
              |FROM cp WHERE bit_count(xor(ha, hb)) <= 3
              |ORDER BY id_a, id_b LIMIT 5000""".stripMargin)),

    // BPE MERGE TRAINING (Sennrich-style iterative top-1 pair merge)
    // over the documents vocabulary — the tokenizer-TRAINING
    // counterpart to d31's tokenize-against-a-given-vocab. Each word
    // is one "(s)(y)(m)" string so the merge is a plain leftmost
    // non-overlapping replace() — semantics both engines share bit
    // for bit; the oracle replays all 6 rounds as an unrolled chained
    // CTE (the d44 replay convention): per round, pair counts →
    // deterministic argmax (count desc, lexicographic) → merge
    // applied to the carried vocabulary.
    "d55_bpe_merges" -> Q(
      (s, dir) => graft.pipeline.Bpe.trainMerges(
          table(s, dir, "documents").select(col("text")), "text",
          rounds = 6)
        .select(col("round").as("merge_round"), col("lhs"),
          col("rhs"), col("merged"), col("pair_count"))
        .orderBy("merge_round"),
      Some {
        val rounds = 6
        val unioned = (1 to rounds).map(r =>
          s"""SELECT CAST($r AS BIGINT) AS merge_round, l AS lhs,
             |  r AS rhs, l || r AS merged, CAST(c AS BIGINT)
             |    AS pair_count FROM m$r""".stripMargin)
          .mkString("\nUNION ALL ")
        s"""WITH ${bpeChainCtes(rounds)}
           |$unioned
           |ORDER BY merge_round""".stripMargin
      }),

    // The APPLY side of BPE — subword segmentation of the vocabulary
    // by the 6 trained merges (the same training loop; its final
    // carried vocabulary IS the segmentation state, so the oracle is
    // d55's CTE chain read out at v6 instead of the merge rows).
    // Segmenting NEW text is one vocabulary join against this table —
    // the standard per-word BPE cache; corpus rows never replay the
    // merge chain.
    "d57_bpe_segment" -> Q(
      (s, dir) => graft.pipeline.Bpe.segmentVocab(
          table(s, dir, "documents").select(col("text")), "text",
          rounds = 6)
        .select(col("w").as("word"), col("n"), col("n_subwords"),
          col("segmentation"))
        .orderBy("word"),
      Some(s"""WITH ${bpeChainCtes(6)}
             |SELECT w AS word, n,
             |  CAST(len(str_split(trim(enc, '()'), ')(')) AS BIGINT)
             |    AS n_subwords,
             |  array_to_string(str_split(trim(enc, '()'), ')('), ' ')
             |    AS segmentation
             |FROM v6 ORDER BY word""".stripMargin)),

    // Tokenizer FERTILITY by language (Ács 2019; Rust et al., ACL
    // 2021 — subwords per word, THE standard multilingual
    // tokenizer-quality metric): a tokenizer trained on a skewed
    // mixture fragments under-represented languages into more
    // subwords, inflating their effective sequence length and
    // training cost — the report a mixture-planning stage reads next
    // to d20/d71. Composes the verified pieces: d55's 6-merge BPE
    // vocabulary segments once (the d57 cache join — corpus words
    // never replay the merge chain), corpus word occurrences join it
    // per language, and fertility is ONE exact integer division
    // (micro) per language — order-free, hash-exact.
    "d81_bpe_fertility" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val vocab = graft.pipeline.Bpe.segmentVocab(
          docs.select(col("text")), "text", rounds = 6)
        docs.select(col("lang"),
            explode(split(col("text"), " ")).as("w"))
          .filter(col("w").rlike("^[a-z0-9]+$"))
          .join(vocab.select(col("w"), col("n_subwords")), "w")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_words"),
            sum(col("n_subwords")).as("n_subwords"))
          .withColumn("fertility_micro",
            expr("(1000000 * n_subwords) div n_words"))
          .orderBy("lang")
      },
      Some(s"""WITH ${bpeChainCtes(6)},
             |fw AS (SELECT lang, u.w AS w
             |  FROM (SELECT lang, str_split(text, ' ') AS ts
             |        FROM documents) c, unnest(ts) AS u(w)
             |  WHERE regexp_full_match(u.w, '[a-z0-9]+')),
             |seg AS (SELECT w,
             |    CAST(len(str_split(trim(enc, '()'), ')(')) AS BIGINT)
             |      AS nsub FROM v6)
             |SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
             |  CAST(sum(seg.nsub) AS BIGINT) AS n_subwords,
             |  CAST((1000000 * sum(seg.nsub)) // count(*) AS BIGINT)
             |    AS fertility_micro
             |FROM fw JOIN seg USING (w)
             |GROUP BY lang ORDER BY lang""".stripMargin)),

    // Learned-classifier TRAINING: multinomial Naive Bayes with
    // Laplace smoothing, trained on (text, lang) and re-scored over
    // the same corpus — train, score, and the confusion-matrix
    // evaluation all in exact aggregates (NB's MLE is a pair of
    // groupBys; no gradient descent, so the whole loop is
    // oracle-checkable). Per-term micro rounding before summation
    // (d28/d47 discipline); argmax via min(struct(-score, label)),
    // an aggregate, not a window.
    "d58_nb_confusion" -> Q(
      (s, dir) => graft.pipeline.Classify.nbSelfConfusion(
          table(s, dir, "documents"), "doc_id", "text", "lang")
        .orderBy("label_actual", "label_pred"),
      Some("""WITH t AS (SELECT doc_id, lang,
             |    unnest(str_split(text, ' ')) AS tok FROM documents),
             |vs AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v
             |  FROM t),
             |nl AS (SELECT lang AS cl, CAST(count(*) AS BIGINT) AS n
             |  FROM t GROUP BY lang),
             |dl AS (SELECT lang AS cl, CAST(count(*) AS BIGINT) AS d
             |  FROM documents GROUP BY lang),
             |dd AS (SELECT CAST(count(*) AS BIGINT) AS d
             |  FROM documents),
             |ct AS (SELECT lang AS clab, tok AS ctok,
             |    CAST(count(*) AS BIGINT) AS c
             |  FROM t GROUP BY lang, tok),
             |cand AS (SELECT t.doc_id, t.lang, t.tok, nl.cl, nl.n
             |  FROM t CROSS JOIN nl),
             |terms AS (SELECT c2.doc_id, c2.lang, c2.cl,
             |    CAST(round(1e6 * ln((COALESCE(ct.c, 0) + 1)
             |      / CAST(c2.n + vs.v AS DOUBLE))) AS BIGINT) AS term
             |  FROM cand c2 CROSS JOIN vs
             |  LEFT JOIN ct ON ct.clab = c2.cl AND ct.ctok = c2.tok),
             |pri AS (SELECT dl.cl,
             |    CAST(round(1e6 * ln(CAST(dl.d AS DOUBLE) / dd.d))
             |      AS BIGINT) AS p
             |  FROM dl CROSS JOIN dd),
             |sc AS (SELECT tr.doc_id, tr.lang, tr.cl,
             |    CAST(SUM(tr.term) + max(pri.p) AS BIGINT) AS s
             |  FROM terms tr JOIN pri ON pri.cl = tr.cl
             |  GROUP BY tr.doc_id, tr.lang, tr.cl),
             |pred AS (SELECT doc_id, lang, cl AS pl FROM (
             |    SELECT doc_id, lang, cl, s, row_number() OVER (
             |      PARTITION BY doc_id ORDER BY s DESC, cl ASC) AS rn
             |    FROM sc) w WHERE rn = 1)
             |SELECT lang AS label_actual, pl AS label_pred,
             |  CAST(count(*) AS BIGINT) AS n_docs
             |FROM pred GROUP BY 1, 2
             |ORDER BY label_actual, label_pred""".stripMargin)),

    // NB HOLDOUT evaluation — the d58 trainer composed with a
    // portable-hash 80/20 split (the d16/d43 split discipline): the
    // model, INCLUDING its smoothing vocabulary, sees only the train
    // buckets; the confusion matrix is over the held-out 20%. Unseen
    // holdout tokens contribute the per-class smoothed floor via the
    // left-join coalesce.
    "d59_nb_holdout" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val bucket = pmod(
          Dedup.md5Long60(col("doc_id").cast("string")), lit(5L))
        graft.pipeline.Classify.nbConfusion(
            docs.filter(bucket =!= 0L), docs.filter(bucket === 0L),
            "doc_id", "text", "lang")
          .orderBy("label_actual", "label_pred")
      },
      Some(s"""WITH $duckNbHoldoutCtes,
             |pred AS (SELECT doc_id, lang, cl AS pl FROM (
             |    SELECT doc_id, lang, cl, s, row_number() OVER (
             |      PARTITION BY doc_id ORDER BY s DESC, cl ASC) AS rn
             |    FROM sc) w WHERE rn = 1)
             |SELECT lang AS label_actual, pl AS label_pred,
             |  CAST(count(*) AS BIGINT) AS n_docs
             |FROM pred GROUP BY 1, 2
             |ORDER BY label_actual, label_pred""".stripMargin)),

    // NB MODEL-QUALITY REPORT — the d58/d59 classifier composed with
    // its evaluation loop (the verdict-r10 capstone): score the d59
    // holdout under the SAME trained model, frame lang='en' as the
    // binary task, and report tie-aware ROC-AUC (q40 machinery) on
    // the integer score margin next to the calibration error (q44
    // machinery) on the softmax probability — whose per-class exp
    // terms quantize to micro integers BEFORE the per-doc sum, making
    // p ONE division of two exact integers. The two 1-row audits meet
    // on the attribute-dependent key n_pos+n_neg = n (a constant key
    // would plan the banned BroadcastNestedLoopJoin).
    "d64_nb_model_report" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val bucket = pmod(
          Dedup.md5Long60(col("doc_id").cast("string")), lit(5L))
        graft.pipeline.Classify.nbModelReport(
          docs.filter(bucket =!= 0L), docs.filter(bucket === 0L),
          "doc_id", "text", "lang", posLabel = "en")
      },
      Some(s"""WITH $duckNbHoldoutCtes,
             |mx AS (SELECT doc_id, MAX(s) AS smax FROM sc
             |  GROUP BY doc_id),
             |tt AS (SELECT sc.doc_id, sc.lang, sc.cl, sc.s,
             |    CAST(round(1e6 * exp(
             |      CAST(sc.s - mx.smax AS DOUBLE) / 1e6)) AS BIGINT)
             |      AS tv
             |  FROM sc JOIN mx USING (doc_id)),
             |pd AS (SELECT doc_id,
             |    MAX(CASE WHEN cl = 'en' THEN tv END) AS t_pos,
             |    MAX(CASE WHEN cl = 'en' THEN s END) AS s_pos,
             |    MAX(CASE WHEN cl <> 'en' THEN s END) AS s_alt,
             |    SUM(tv) AS t_sum,
             |    MAX(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS y
             |  FROM tt GROUP BY doc_id),
             |fr AS (SELECT s_pos - s_alt AS margin,
             |    CAST(t_pos AS DOUBLE) / t_sum AS p, y FROM pd),
             |rg AS (SELECT margin AS sv, CAST(sum(y) AS BIGINT)
             |      AS pos,
             |    CAST(count(*) - sum(y) AS BIGINT) AS neg
             |  FROM fr GROUP BY margin),
             |rw2 AS (SELECT sv, pos, neg,
             |    COALESCE(CAST(sum(neg) OVER (ORDER BY sv
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |      AS BIGINT), 0) AS neg_below
             |  FROM rg),
             |ru AS (SELECT
             |    CAST(sum(2 * neg_below * pos + neg * pos) AS BIGINT)
             |      AS u2,
             |    CAST(sum(pos) AS BIGINT) AS n_pos,
             |    CAST(sum(neg) AS BIGINT) AS n_neg
             |  FROM rw2),
             |eb2 AS (SELECT least(9, greatest(0,
             |      CAST(floor(p / 0.1) AS BIGINT))) AS bin,
             |    CAST(ROUND(p * 1e6) AS BIGINT) AS pm, y
             |  FROM fr),
             |eg AS (SELECT bin, CAST(sum(pm) AS BIGINT) AS psum,
             |    CAST(sum(y) AS BIGINT) AS pos,
             |    CAST(count(*) AS BIGINT) AS nb
             |  FROM eb2 GROUP BY bin),
             |et AS (SELECT CAST(sum(abs(psum - 1000000 * pos))
             |      AS BIGINT) AS num,
             |    CAST(sum(nb) AS BIGINT) AS n,
             |    CAST(count(*) AS BIGINT) AS n_bins_used
             |  FROM eg)
             |SELECT ROUND(CAST(u2 AS DOUBLE)
             |    / (2.0 * n_pos * n_neg), 6) AS auc, n_pos, n_neg,
             |  CAST(ROUND(CAST(num AS DOUBLE) / n) AS BIGINT)
             |    AS ece_micro, n, n_bins_used
             |FROM ru JOIN et ON ru.n_pos + ru.n_neg = et.n"""
        .stripMargin)),

    // Learned quality-classifier INFERENCE (fastText-style): hashed
    // unigram+bigram features dot a literal micro-integer weight
    // vector (the model rides the task closure — broadcast by
    // construction, map-only at any corpus size). The 512 weights are
    // computed once in Scala and spliced VERBATIM into both the plan
    // and the oracle text (the q70 Benford convention); the output is
    // the integer-micro LOGIT + thresholded label — the sigmoid is
    // monotone, so no engine evaluates a transcendental. Completes
    // the quality stack: d3 heuristics + d28/d47 LM scores + learned
    // classifier.
    "d56_quality_classifier" -> Q(
      (s, dir) => {
        val (w, bias) = classifierModel
        table(s, dir, "documents").select(col("doc_id"),
            TextStats.hashedLinearLogitMicro(col("text"), w, bias)
              .as("logit_micro"))
          .withColumn("label",
            when(col("logit_micro") > 0, 1L).otherwise(0L))
          .orderBy("doc_id").limit(500)
      },
      Some {
        val (w, bias) = classifierModel
        val wList = w.mkString("[", ", ", "]")
        s"""WITH doc AS (SELECT doc_id, str_split(text, ' ') AS toks
           |  FROM documents),
           |feats AS (SELECT doc_id, unnest(list_concat(toks,
           |    list_transform(generate_series(1, len(toks) - 1),
           |      i -> toks[i] || '_' || toks[i+1]))) AS f
           |  FROM doc),
           |ids AS (SELECT doc_id,
           |    ${duckHash60("f")} % ${w.length} AS j
           |  FROM feats),
           |sc AS (SELECT doc_id,
           |    CAST($bias AS BIGINT) + SUM(($wList)[j + 1]) AS s
           |  FROM ids GROUP BY doc_id)
           |SELECT doc_id, CAST(s AS BIGINT) AS logit_micro,
           |  CAST(CASE WHEN s > 0 THEN 1 ELSE 0 END AS BIGINT) AS label
           |FROM sc ORDER BY doc_id LIMIT 500""".stripMargin
      }),

    // Corpus-level mergeable sketch: per-language MinHash profile via
    // the typed Aggregator (partial+final combine of k-long arrays —
    // no row data crosses the exchange). Portable signatures make the
    // whole sketch oracle-exact; the output carries scalar digests of
    // the union signature (the driver's compare sorts rows, which an
    // array column would break).
    "d9_corpus_sketch" -> Q(
      (s, dir) => table(s, dir, "documents")
        .select(col("lang"),
          Dedup.minhashSignaturePortableNative(col("text"), 12, 3)
            .as("sig"))
        .groupBy("lang").agg(
          graft.functions.MinHashUnion.agg(12)(col("sig"))
            .as("corpus_sig"),
          count(lit(1)).as("n_docs"))
        .select(col("lang"), col("n_docs"),
          array_min(col("corpus_sig")).as("sig_min"),
          array_max(col("corpus_sig")).as("sig_max"),
          element_at(col("corpus_sig"), 1).as("sig_first"))
        .orderBy("lang"),
      Some(s"""WITH doc AS (SELECT doc_id, lang,
              |    list_distinct(list_transform(
              |      generate_series(0, greatest(len(toks) - 3, 0)),
              |      i -> array_to_string(toks[i+1:i+3], ' '))) AS sh
              |  FROM (SELECT doc_id, lang, str_split(text, ' ') AS toks
              |        FROM documents) t),
              |hs AS (SELECT doc_id, lang, g.j,
              |    min(((${duckHash60("u.s")} % 2147483647)
              |      * (2*g.j + 1) + g.j*g.j) % 2147483647)
              |      AS sig
              |  FROM doc, unnest(sh) AS u(s), generate_series(0, 11) AS g(j)
              |  GROUP BY doc_id, lang, g.j),
              |un AS (SELECT lang, j, min(sig) AS m FROM hs GROUP BY lang, j),
              |su AS (SELECT lang, min(m) AS sig_min, max(m) AS sig_max,
              |    min(CASE WHEN j = 0 THEN m END) AS sig_first
              |  FROM un GROUP BY lang),
              |nd AS (SELECT lang, count(*) AS n_docs FROM documents
              |  GROUP BY lang)
              |SELECT nd.lang, nd.n_docs, sig_min, sig_max, sig_first
              |FROM nd JOIN su USING (lang)
              |ORDER BY lang""".stripMargin)),

    // ---- LLM-data-pipeline: text analysis ------------------------------
    "d2_text_stats" -> Q(
      (s, dir) => table(s, dir, "documents").select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars_computed"),
          TextStats.tokenCount(col("text")).as("n_tokens"),
          TextStats.distinctTokenCount(col("text")).as("n_distinct"))
        .orderBy("doc_id").limit(500),
      Some("""SELECT doc_id,
             |  CAST(length(text) AS BIGINT) AS n_chars_computed,
             |  CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens,
             |  CAST(len(list_distinct(str_split(text, ' '))) AS BIGINT)
             |    AS n_distinct
             |FROM documents ORDER BY doc_id LIMIT 500""".stripMargin)),

    "d3_quality_score" -> Q(
      (s, dir) => table(s, dir, "documents").select(col("doc_id"),
          round(TextStats.stopwordRatio(col("text")), 6).as("stop_ratio"),
          round(TextStats.typeTokenRatio(col("text")), 6).as("ttr"),
          TextStats.langId(col("text")).as("lang_pred"),
          TextStats.isQuality(col("text")).as("is_quality"))
        .orderBy("doc_id").limit(500),
      Some("""WITH t AS (SELECT doc_id, text, str_split(text, ' ') AS toks,
             |    length(regexp_replace(text, '[^\x{4e00}-\x{9fff}]', '', 'g'))
             |      AS cjk
             |  FROM documents),
             |s AS (SELECT doc_id, cjk, length(text) AS lc, len(toks) AS n,
             |    len(list_distinct(toks)) AS nd,
             |    len(list_filter(toks, x -> x IN
             |      ('the','a','an','and','of','to','in','is'))) AS en,
             |    len(list_filter(toks, x -> x IN
             |      ('el','la','los','de','y','en','es','un'))) AS es,
             |    len(list_filter(toks, x -> x IN
             |      ('le','la','les','et','de','un','une','est'))) AS fr,
             |    len(list_filter(toks, x -> x IN
             |      ('der','die','das','und','ein','ist','zu','von'))) AS de
             |  FROM t)
             |SELECT doc_id,
             |  ROUND(en / CAST(n AS DOUBLE), 6) AS stop_ratio,
             |  ROUND(nd / CAST(n AS DOUBLE), 6) AS ttr,
             |  CASE WHEN cjk * 3 > lc THEN 'zh'
             |       WHEN en >= es AND en >= fr AND en >= de AND en > 0
             |         THEN 'en'
             |       WHEN es >= fr AND es >= de AND es > 0 THEN 'es'
             |       WHEN fr >= de AND fr > 0 THEN 'fr'
             |       WHEN de > 0 THEN 'de'
             |       ELSE 'und' END AS lang_pred,
             |  (n >= 10 AND n <= 100000 AND nd / CAST(n AS DOUBLE) > 0.1
             |    AND en / CAST(n AS DOUBLE) < 0.5) AS is_quality
             |FROM s ORDER BY doc_id LIMIT 500""".stripMargin)),

    "d5_fingerprint" -> Q(
      (s, dir) => table(s, dir, "documents").select(col("doc_id"),
          TextStats.docFingerprint(col("text")).as("doc_md5"),
          TextStats.minTokenFingerprint(col("text")).as("min_token_md5"))
        .orderBy("doc_id").limit(500),
      Some("""SELECT doc_id, md5(text) AS doc_md5,
             |  list_aggregate(list_transform(
             |    list_distinct(str_split(text, ' ')), x -> md5(x)), 'min')
             |    AS min_token_md5
             |FROM documents ORDER BY doc_id LIMIT 500""".stripMargin)),

    // Corpus vocabulary top-k (tokenizer vocab building): explode →
    // partial+final count → TakeOrdered. The shuffle carries one row
    // per distinct token per task after map-side combine.
    // Corpus TOKENIZATION with a frequency vocabulary — the encode
    // step between vocab building (d13) and packing (d22): token ids
    // by global frequency rank, OOV -> unk(0), every doc folded to
    // exact integers (count, unk count, position-weighted id checksum
    // — order-sensitive, so the oracle confirms ids AND positions
    // without comparing arrays). Shape at scale: the vocabulary is
    // k rows after a TakeOrdered (its ranking window runs over those
    // k rows only, the d20 post-agg-size discipline) and broadcasts;
    // the corpus side is one posexplode scan into a partial+final
    // aggregation keyed by doc_id.
    "d31_tokenize_checksum" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val vocab = docs
          .select(explode(split(col("text"), " ")).as("token"))
          .groupBy("token").agg(count(lit(1)).as("tf"))
          .orderBy(col("tf").desc, col("token").asc).limit(1000)
          .select(col("token"), row_number().over(
              org.apache.spark.sql.expressions.Window
                .orderBy(col("tf").desc, col("token").asc))
            .cast("long").as("token_id"))
        val pos = docs.select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "token")))
        pos.join(broadcast(vocab), Seq("token"), "left")
          .groupBy("doc_id").agg(
            count(lit(1)).as("n_tokens"),
            count(when(col("token_id").isNull, 1)).as("n_unk"),
            sum(coalesce(col("token_id"), lit(0L)) *
              (col("pos").cast("long") + 1L)).as("checksum"))
          .orderBy("doc_id").limit(2000)
      },
      Some("""WITH tf AS (SELECT t AS token, count(*) AS tf
             |  FROM (SELECT unnest(str_split(text, ' ')) AS t
             |        FROM documents) u GROUP BY t),
             |v AS (SELECT token, CAST(row_number() OVER
             |      (ORDER BY tf DESC, token ASC) AS BIGINT) AS token_id
             |  FROM tf ORDER BY tf DESC, token ASC LIMIT 1000),
             |p AS (SELECT doc_id,
             |    unnest(str_split(text, ' ')) AS token,
             |    unnest(generate_series(1,
             |      len(str_split(text, ' ')))) AS pos
             |  FROM documents),
             |j AS (SELECT p.doc_id, p.pos, v.token_id
             |  FROM p LEFT JOIN v USING (token))
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             |  CAST(count(CASE WHEN token_id IS NULL THEN 1 END)
             |    AS BIGINT) AS n_unk,
             |  CAST(sum(COALESCE(token_id, 0) * pos) AS BIGINT)
             |    AS checksum
             |FROM j GROUP BY doc_id ORDER BY doc_id
             |LIMIT 2000""".stripMargin)),

    "d13_vocab_topk" -> Q(
      (s, dir) => table(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("tf"))
        .orderBy(col("tf").desc, col("token").asc).limit(200),
      Some("""SELECT t AS token, count(*) AS tf
             |FROM (SELECT unnest(str_split(text, ' ')) AS t
             |      FROM documents) u
             |GROUP BY t ORDER BY tf DESC, token ASC
             |LIMIT 200""".stripMargin)),

    // d13's 100 TB twin: exact top-k tokens via Misra-Gries sketch →
    // broadcast-gated exact recount (pipeline/HeavyHitters). The
    // shuffle carries only candidate keys instead of the whole token
    // stream; the result is still EXACT (same oracle family as d13),
    // because the sketch guarantees every item with freq > N/(m+1)
    // survives into the recount and only the candidate SET (never the
    // order-dependent sketch weights) reaches the output.
    "d29_heavy_hitters" -> Q(
      (s, dir) => graft.pipeline.HeavyHitters.exactTopK(
        table(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("token")),
        col("token"), k = 100, sketchSize = 256)
        .withColumnRenamed("item", "token"),
      Some("""SELECT t AS token, count(*) AS tf
             |FROM (SELECT unnest(str_split(text, ' ')) AS t
             |      FROM documents) u
             |GROUP BY t ORDER BY tf DESC, token ASC
             |LIMIT 100""".stripMargin)),

    // Count-Min sketch (Cormode & Muthukrishnan 2005), the
    // POINT-ESTIMATE sketch next to d29's set sketch: 4 salted
    // portable-md5 rows x 1024 buckets, one items pass whose shuffle
    // carries only cells; estimates for the exact top-20 tokens
    // reported BESIDE their true counts (the sketch self-audit —
    // est >= exact is the one-sided CMS guarantee, pinned in spec).
    "d69_countmin_hh" -> Q(
      (s, dir) => {
        val toks = table(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("tok"))
        val cms = graft.pipeline.HeavyHitters.countMinTable(
          toks, col("tok"))
        val top = toks.groupBy("tok")
          .agg(count(lit(1)).as("exact_count"))
          .orderBy(desc("exact_count"), asc("tok")).limit(20)
        graft.pipeline.HeavyHitters.countMinEstimates(
            cms, top, col("tok"))
          .select(col("tok"), col("exact_count"), col("est_count"))
          .orderBy(desc("exact_count"), asc("tok"))
      },
      Some(duckCmsSql)),

    // Batch REPLAY of a streaming Count-Min monitor: per-batch cell
    // tables (doc_id mod 3 batches) merged by plain cell-count
    // addition — CMS is a linear sketch, so the merged table must
    // equal the one-shot d69 table bit-for-bit and the top-20 report
    // shares d69's oracle VERBATIM (the d41/d68 replay discipline:
    // the fold changes cost, never answers).
    "d70_cms_stream_replay" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val merged = (0 until 3).map { b =>
            graft.pipeline.HeavyHitters.countMinTable(
              docs.filter(pmod(col("doc_id"), lit(3L)) === b)
                .select(explode(split(col("text"), " ")).as("tok")),
              col("tok"))
          }
          .reduce(_ unionAll _)
          .groupBy("r", "b").agg(sum(col("c")).as("c"))
        val toks = docs
          .select(explode(split(col("text"), " ")).as("tok"))
        val top = toks.groupBy("tok")
          .agg(count(lit(1)).as("exact_count"))
          .orderBy(desc("exact_count"), asc("tok")).limit(20)
        graft.pipeline.HeavyHitters.countMinEstimates(
            merged, top, col("tok"))
          .select(col("tok"), col("exact_count"), col("est_count"))
          .orderBy(desc("exact_count"), asc("tok"))
      },
      Some(duckCmsSql)),

    // Bloom-filter semi-join PRE-FILTER (the membership member of
    // the sketch family; Kirsch-Mitzenmacher double hashing over the
    // ONE portable 60-bit hash): the high-balance customer key set
    // travels as 1024 longs and the orders scan drops non-members
    // map-side — the no-shuffle shape that guards a 100 TB fact join.
    // The bit array is a PURE SET FUNCTION (OR-insert: associative,
    // commutative, idempotent), so unlike KLL the oracle replays
    // every membership decision exactly (a probe hits iff all k of
    // its positions appear among any build key's positions). The
    // report audits against the exact semi-join: n_false_neg must be
    // 0 by construction; fpr_ppm is the realized false-positive rate.
    "d72_bloom_prefilter" -> Q(
      (s, dir) => {
        import graft.functions.{BloomFilter60 => BF}
        // bounded parameter fetch: the m/64-long filter, never data
        val bits = bloomBuildKeys(s, dir)
          .agg(BF.agg(bloomM, bloomK, col("h"))).head()
          .getSeq[Long](0)
        bloomProbeReport(s, dir, bits)
      },
      Some(duckBloomSql)),

    // Append-only bloom INDEX replay (the d68/d70 discipline): three
    // deterministic build batches filter independently in one grouped
    // pass, OR-merge driver-side, and the merged filter's probe
    // report must equal the one-shot d72 BIT-FOR-BIT — OR-insert is
    // idempotent, so the standing index also absorbs at-least-once
    // re-deliveries unchanged (stronger than KLL's merge, which
    // conserves weight but not content). Oracle: d72's, verbatim.
    "d73_bloom_index_replay" -> Q(
      (s, dir) => {
        import graft.functions.{BloomFilter60 => BF}
        val parts = bloomBuildKeys(s, dir)
          .groupBy(pmod(col("ck"), lit(3L)).as("b"))
          .agg(BF.agg(bloomM, bloomK, col("h")).as("sk"))
          .orderBy("b").collect()
          .map(_.getSeq[Long](1))
        // foldLeft from the zero filter, not reduce: an empty build
        // side (possible at a tiny SF) yields zero groups, and the
        // report must degrade to the all-zeros filter exactly as the
        // one-shot d72 does via finish(zero)
        val bits = parts.foldLeft(
          new graft.functions.BloomFilter60(bloomM, bloomK).zero)(
          (a, b) => a.zip(b).map { case (x, y) => x | y })
        bloomProbeReport(s, dir, bits)
      },
      Some(duckBloomSql)),

    // Chi-square test of independence for two categorical columns
    // (lang x source): observed cell counts from one aggregation,
    // expected = row_total * col_total / n from two broadcast-sized
    // marginal frames, and each cell's (o-e)^2/e term QUANTIZED to
    // integer micro-units before the final sum (the d28 discipline —
    // a float sum over cells would depend on aggregation order).
    // Association testing for mixture drift: does source predict
    // language?
    "d33_chi_square" -> Q(
      (s, dir) => {
        val (cells, n) = langSourceCells(s, dir)
        cells
          .select((col("o").cast("double") -
              col("rt").cast("double") * col("ct") / lit(n)).as("_d"),
            (col("rt").cast("double") * col("ct") / lit(n)).as("_e"))
          .select(round(col("_d") * col("_d") / col("_e") * 1e6)
            .cast("long").as("term_micro"))
          .agg(sum(col("term_micro")).as("chi2_micro"),
            count(lit(1)).as("n_cells"))
      },
      Some(s"""WITH $duckLangSourceCtes,
             |t AS (SELECT CAST(ROUND(
             |    (o - rt * ct / n) * (o - rt * ct / n)
             |      / (rt * ct / n) * 1e6) AS BIGINT) AS term_micro
             |  FROM c JOIN r USING (lang) JOIN k USING (source), n)
             |SELECT CAST(sum(term_micro) AS BIGINT) AS chi2_micro,
             |  CAST(count(*) AS BIGINT) AS n_cells
             |FROM t""".stripMargin)),

    // Mutual information of the lang × source mixture — the
    // effect-SIZE companion to d33's chi-square (chi2 grows with N at
    // fixed association; MI answers "how many nats does lang tell you
    // about source", the quantity a mixture-drift dashboard trends).
    // Same marginal-broadcast shape as d33: observed cells from one
    // aggregation, two mixture-sized marginal frames broadcast, each
    // (o/n)·ln(o·n/(rt·ct)) term micro-quantized BEFORE the sum (the
    // d28 discipline) with the IEEE op order mirrored literally in the
    // oracle — bit-identical across engines, independent of partial
    // aggregation order. Unobserved cells contribute 0 (the 0·ln 0
    // convention) and never materialize.
    "q51_mutual_information" -> Q(
      (s, dir) => {
        val (cells, n) = langSourceCells(s, dir)
        cells
          .select(round((col("o").cast("double") / lit(n)) *
              log(col("o").cast("double") * lit(n) /
                (col("rt").cast("double") * col("ct").cast("double")))
              * 1e6)
            .cast("long").as("term_micro"))
          .agg(sum(col("term_micro")).as("mi_micro"),
            count(lit(1)).as("n_cells"))
      },
      Some(s"""WITH $duckLangSourceCtes,
             |t AS (SELECT CAST(ROUND(
             |    (o / n) * ln(o * n / (rt * ct)) * 1e6) AS BIGINT)
             |      AS term_micro
             |  FROM c JOIN r USING (lang) JOIN k USING (source), n)
             |SELECT CAST(sum(term_micro) AS BIGINT) AS mi_micro,
             |  CAST(count(*) AS BIGINT) AS n_cells
             |FROM t""".stripMargin)),

    // Poisson-bootstrap confidence interval in ONE pass: every doc
    // contributes a deterministic hash-Poisson(1) weight to each of
    // 16 pseudo-resamples, so the 16 weighted means ARE the sampling
    // distribution of mean(n_chars) — uncertainty quantification
    // without a second scan or any iteration. Integer CDF thresholds
    // and exact integer sums make all 16 means hash-exact.
    "d32_bootstrap_ci" -> Q(
      (s, dir) => Curation.poissonBootstrapMeans(
        table(s, dir, "documents"), col("doc_id"), col("n_chars"),
        replicates = 16),
      Some(s"""WITH r AS (SELECT doc_id, n_chars, b
              |  FROM documents, generate_series(0, 15) g(b)),
              |u AS (SELECT doc_id, n_chars, b,
              |    (${duckHash60(
                      "CAST(doc_id AS VARCHAR) || '|' || " +
                      "CAST(b AS VARCHAR)")}) % 1000000 AS h
              |  FROM r),
              |w AS (SELECT b, n_chars,
              |    (CASE WHEN h >= 367879 THEN 1 ELSE 0 END +
              |     CASE WHEN h >= 735758 THEN 1 ELSE 0 END +
              |     CASE WHEN h >= 919698 THEN 1 ELSE 0 END +
              |     CASE WHEN h >= 981011 THEN 1 ELSE 0 END +
              |     CASE WHEN h >= 996340 THEN 1 ELSE 0 END +
              |     CASE WHEN h >= 999405 THEN 1 ELSE 0 END) AS wt
              |  FROM u)
              |SELECT b AS replicate,
              |  CAST(sum(wt) AS BIGINT) AS n_eff,
              |  CASE WHEN sum(wt) > 0 THEN
              |    ROUND(CAST(sum(wt * n_chars) AS DOUBLE) /
              |      CAST(sum(wt) AS DOUBLE), 6)
              |  ELSE NULL END AS mean_val
              |FROM w GROUP BY b ORDER BY replicate""".stripMargin)),

    // Weighted reservoir sampling without replacement (Efraimidis-
    // Spirakis A-ES) with weight = document length: priority
    // u^(1/w) from the portable-hash uniform, quantized to integer
    // NANO-units (1e9 — micro would collapse large-weight priorities
    // into tie groups broken by id; see Curation.weightedReservoir),
    // k largest win. Inclusion probability proportional to n_chars —
    // the quality/length-weighted subsample step. The top-k is a
    // TakeOrdered (k-bounded per partition), never a full sort; the
    // draw is per-row and engine-reproducible.
    "d30_weighted_reservoir" -> Q(
      (s, dir) => Curation.weightedReservoir(
        table(s, dir, "documents").select("doc_id", "n_chars"),
        col("doc_id"), col("n_chars"), k = 100),
      Some(s"""SELECT doc_id, n_chars,
              |  CAST(ROUND(pow(
              |    (CAST((${duckHash60("CAST(doc_id AS VARCHAR)")})
              |       % 1000000 AS DOUBLE) + 0.5) / 1000000.0,
              |    1.0 / n_chars) * 1e9) AS BIGINT) AS priority_nano
              |FROM documents WHERE n_chars > 0
              |ORDER BY priority_nano DESC, doc_id ASC
              |LIMIT 100""".stripMargin)),

    // Dedup cluster lineage: every clustered doc mapped to its
    // cluster's canonical (lowest-id) survivor — the provenance table
    // a dedup stage emits alongside the survivors. Clustered on the
    // 1-permutation MinHash fingerprint (min token md5, the cheap
    // near-dup prefilter key — the fixtures carry no EXACT dups, and
    // a sha2 key would make this vacuous). Window min over the
    // fingerprint partition; the fingerprint is the shuffle key.
    "d14_dup_clusters" -> Q(
      (s, dir) => {
        // summary + join, not a window over the fingerprint: a
        // hyper-common fingerprint (one ubiquitous minimal-hash token)
        // would funnel its whole cluster into a single window task,
        // while the aggregate collapses map-side and the hot-key JOIN
        // is splittable by AQE skew handling (same de-skew move as
        // Dedup.exactDedup; <=> keeps the null-fingerprint group —
        // empty docs — clustered like the window did).
        val keyed = table(s, dir, "documents").select(col("doc_id"),
          TextStats.minTokenFingerprint(col("text")).as("_fp"))
        val keep = keyed.groupBy(col("_fp").as("_kfp"))
          .agg(min(col("doc_id")).as("keep_id"))
        keyed.join(keep, col("_fp") <=> col("_kfp"))
          .filter(col("doc_id") =!= col("keep_id"))
          .select(col("doc_id"), col("keep_id"))
          .orderBy("doc_id").limit(1000)
      },
      Some("""WITH m AS (SELECT doc_id,
             |    min(doc_id) OVER (PARTITION BY list_aggregate(
             |      list_transform(list_distinct(str_split(text, ' ')),
             |        x -> md5(x)), 'min')) AS keep_id
             |  FROM documents)
             |SELECT doc_id, keep_id FROM m WHERE doc_id <> keep_id
             |ORDER BY doc_id LIMIT 1000""".stripMargin)),

    // The production near-dup composition, oracle-exact end to end:
    // portable LSH candidates → exact Jaccard verify on candidates
    // only (vs d4, which intersects every token-sharing pair).
    "d15_lsh_verified_jaccard" -> Q(
      (s, dir) => Dedup.lshVerifiedJaccardPairs(
          table(s, dir, "documents"), "doc_id", "text", threshold = 0.3)
        .orderBy("id_a", "id_b").limit(2000),
      Some(s"""WITH ${duckLshVerifiedCtes("documents", 0.3)}
              |SELECT id_a, id_b, ROUND(jaccard, 6) AS jaccard
              |FROM vpairs
              |ORDER BY id_a, id_b LIMIT 2000""".stripMargin)),

    // Triangle/wedge census of the verified near-dup graph: the
    // cohesion check on dup clusters (a clique-ish cluster is one
    // document family; a barbell of cliques joined by one spurious
    // LSH pair is two). Oriented wedge join — each triangle found
    // once at its lowest node; wedges = sum C(deg,2) in one
    // aggregation; coefficient in rounded micro-units.
    "g2_triangles" -> Q(
      // graph reports compose over the staged family state
      // (dedupArtifacts) like d40-d44: the census is a report OVER the
      // pair graph, not a rebuild of the pair pipeline
      (s, dir) => graft.pipeline.GraphOps.triangleCensus(
        dedupArtifacts(s, dir).pairs,
        "id_a", "id_b"),
      Some(s"""WITH ${duckLshVerifiedCtes("documents", 0.3)},
              |te AS (SELECT DISTINCT id_a AS lo, id_b AS hi
              |       FROM vpairs WHERE id_a < id_b),
              |td AS (SELECT id, CAST(count(*) AS BIGINT) AS deg
              |  FROM (SELECT lo AS id FROM te
              |        UNION ALL SELECT hi AS id FROM te) u
              |  GROUP BY id),
              |tw AS (SELECT e1.hi AS v, e2.hi AS w
              |  FROM te e1 JOIN te e2
              |    ON e1.lo = e2.lo AND e1.hi < e2.hi),
              |tt AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
              |  FROM tw WHERE EXISTS (SELECT 1 FROM te
              |    WHERE te.lo = tw.v AND te.hi = tw.w)),
              |ws AS (SELECT CAST(sum((deg * (deg - 1)) // 2)
              |    AS BIGINT) AS n_wedges FROM td)
              |SELECT n_triangles, n_wedges,
              |  CASE WHEN n_wedges = 0 THEN CAST(0 AS BIGINT)
              |    ELSE CAST(ROUND(3.0 * n_triangles / n_wedges * 1e6)
              |      AS BIGINT) END AS clustering_micro
              |FROM tt, ws""".stripMargin)),

    // Directional containment on the LSH candidates (Broder's
    // c(A,B) = |A∩B|/|A|) — the asymmetric quote/subset detector a
    // Jaccard-only dedup stage misses. Same candidates, verification
    // tokenization, and rounding as d15; both directions emitted,
    // either reaching the threshold keeps the pair.
    "d34_containment_pairs" -> Q(
      (s, dir) => Dedup.lshVerifiedContainmentPairs(
          table(s, dir, "documents"), "doc_id", "text", threshold = 0.5)
        .orderBy("id_a", "id_b").limit(2000),
      Some(s"""WITH ${duckLshVerifiedCtes("documents", 0.3)},
              |cont AS (SELECT id_a, id_b,
              |    ROUND(CAST(i AS DOUBLE) / sa.n, 6) AS c_ab,
              |    ROUND(CAST(i AS DOUBLE) / sb.n, 6) AS c_ba
              |  FROM vinter
              |  JOIN vsz sa ON sa.id = id_a
              |  JOIN vsz sb ON sb.id = id_b)
              |SELECT id_a, id_b, c_ab, c_ba FROM cont
              |WHERE c_ab >= 0.5 OR c_ba >= 0.5
              |ORDER BY id_a, id_b LIMIT 2000""".stripMargin)),

    // The containment-RECALL variant (VERDICT r6 task 4): d34's LSH
    // candidates are resemblance-driven, so a short fragment quoted
    // inside a long page (containment 1.0, resemblance ~0) never
    // shares a band with its container. The prefix-filter candidate
    // stage bands over the smaller side's shingles only — each doc
    // probes with its (200000·nsh) div 1e6 + 3 rarest (df-ordered)
    // shingles (integer micro-units both engines; a float (1−t)·nsh
    // floor flips on DECIMAL-vs-IEEE semantics) against the full
    // shingle inverted index, which by pigeonhole finds every pair
    // with shingle containment ≥ t.
    // Fixture: synthetic 12-token fragments sliced out of long docs
    // (doc_id+1e6), which d34's band join provably misses (DedupSpec
    // pins that); verification reuses d34's exact token-containment
    // metric so the two paths stay comparable.
    "d35_containment_prefix" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents").select("doc_id", "text")
        Dedup.prefixVerifiedContainmentPairs(
            docs.unionByName(containmentFrags(docs)), "doc_id", "text",
            threshold = 0.8)
          .orderBy("id_a", "id_b").limit(2000)
      },
      Some(s"""WITH aug AS (
              |  SELECT doc_id, text FROM documents
              |  UNION ALL
              |  $duckFragSelect),
              |${duckShingleCte("csh", "aug")},
              |cdf AS (SELECT sh, count(*) AS df FROM csh GROUP BY sh),
              |cnsh AS (SELECT id, count(*) AS nsh FROM csh GROUP BY id),
              |cpre AS (SELECT id, sh, nsh AS pnsh FROM (
              |    SELECT csh.id, csh.sh,
              |      row_number() OVER (PARTITION BY csh.id
              |        ORDER BY cdf.df, csh.sh) AS rk,
              |      cnsh.nsh
              |    FROM csh JOIN cdf USING (sh)
              |    JOIN cnsh ON cnsh.id = csh.id) r
              |  WHERE rk <= (200000 * nsh) // 1000000 + 3),
              |ccand AS (SELECT DISTINCT
              |    least(p.id, x.id) AS id_a, greatest(p.id, x.id) AS id_b
              |  FROM cpre p JOIN csh x ON x.sh = p.sh AND x.id <> p.id
              |  JOIN cnsh xn ON xn.id = x.id
              |    AND xn.nsh * 1000000 >= 800000 * p.pnsh - 1000000),
              |${duckTokSzCtes("wtok", "wsz", "aug")},
              |winter AS (SELECT c.id_a, c.id_b, count(*) AS i
              |  FROM ccand c
              |  JOIN wtok ta ON ta.id = c.id_a
              |  JOIN wtok tb ON tb.id = c.id_b AND tb.t = ta.t
              |  GROUP BY c.id_a, c.id_b),
              |wc AS (SELECT id_a, id_b,
              |    ROUND(CAST(i AS DOUBLE) / sa.n, 6) AS c_ab,
              |    ROUND(CAST(i AS DOUBLE) / sb.n, 6) AS c_ba
              |  FROM winter
              |  JOIN wsz sa ON sa.id = id_a
              |  JOIN wsz sb ON sb.id = id_b)
              |SELECT id_a, id_b, c_ab, c_ba FROM wc
              |WHERE c_ab >= 0.8 OR c_ba >= 0.8
              |ORDER BY id_a, id_b LIMIT 2000""".stripMargin)),

    // The dedup REPORT: cluster-size histogram of the transitive
    // near-dup clusters — (cluster_size, n_clusters, n_docs), the
    // one-screen summary a dedup stage emits (how much of the corpus
    // sits in 2-clusters vs giant components drives the survivor
    // policy). The report itself is Dedup.clusterSizeHistogram over a
    // PRECOMPUTED (id, component) assignment — two bounded
    // aggregations, nothing corpus-sized past the CC contraction — so
    // a composed pipeline that already ran d23 never re-runs
    // LSH+verify+CC for the report; only this standalone oracle entry
    // computes the assignment itself.
    "d40_cluster_histogram" -> Q(
      // consumes the staged family state (dedupArtifacts): the
      // histogram is a report OVER components, not a rebuild of them
      (s, dir) => Dedup.clusterSizeHistogram(
          dedupArtifacts(s, dir).components)
        .orderBy("cluster_size"),
      Some(s"""WITH RECURSIVE ${duckLshVerifiedCtes("documents", 0.3)},
              |hedges AS (SELECT id_a AS a, id_b AS b FROM vpairs
              |  UNION SELECT id_b, id_a FROM vpairs),
              |hreach(s, d) AS (
              |  SELECT a, b FROM hedges
              |  UNION
              |  SELECT r.s, e.b FROM hreach r JOIN hedges e ON e.a = r.d),
              |hcomp AS (SELECT s AS doc_id, least(s, min(d)) AS component
              |  FROM hreach GROUP BY s),
              |hsz AS (SELECT component,
              |    CAST(count(*) AS BIGINT) AS cluster_size
              |  FROM hcomp GROUP BY component)
              |SELECT cluster_size,
              |  CAST(count(*) AS BIGINT) AS n_clusters,
              |  CAST(sum(cluster_size) AS BIGINT) AS n_docs
              |FROM hsz GROUP BY cluster_size
              |ORDER BY cluster_size""".stripMargin)),

    // Snapshot reconciliation between two corpus versions: the new
    // snapshot is a deterministic mutation of documents (every 13th
    // doc dropped, every 17th doc's text amended, every 19th doc
    // duplicated under a shifted id) and the diff classifies each id
    // added/removed/changed. Both sides project to (id, sha256)
    // before the full-outer join, so only 40-byte rows shuffle; the
    // oracle compares raw text equality — same result.
    "d38_corpus_diff" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents").select("doc_id", "text")
        val next = docs
          .filter(pmod(col("doc_id"), lit(13L)) =!= 0)
          .select(col("doc_id"),
            when(pmod(col("doc_id"), lit(17L)) === 0,
              concat(col("text"), lit(" amended")))
              .otherwise(col("text")).as("text"))
          .unionByName(docs
            .filter(pmod(col("doc_id"), lit(19L)) === 0)
            .select((col("doc_id") + 2000000L).as("doc_id"),
              col("text")))
        Curation.corpusDiff(docs, next, "doc_id", "text")
          .filter(col("status") =!= "unchanged")
          .orderBy("doc_id").limit(2000)
      },
      Some("""WITH next AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 17 = 0 THEN text || ' amended'
             |         ELSE text END AS text
             |  FROM documents WHERE doc_id % 13 <> 0
             |  UNION ALL
             |  SELECT doc_id + 2000000 AS doc_id, text
             |  FROM documents WHERE doc_id % 19 = 0),
             |d AS (SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
             |    CASE WHEN o.doc_id IS NULL THEN 'added'
             |         WHEN n.doc_id IS NULL THEN 'removed'
             |         WHEN o.text <> n.text THEN 'changed'
             |         ELSE 'unchanged' END AS status
             |  FROM documents o FULL OUTER JOIN next n
             |    ON o.doc_id = n.doc_id)
             |SELECT doc_id, status FROM d
             |WHERE status <> 'unchanged'
             |ORDER BY doc_id LIMIT 2000""".stripMargin)),

    // Weighted stratified sampling: the d30 A-ES priority taken
    // per-language — each stratum keeps its own length-weighted
    // top-20, so low-volume languages are not crowded out by the
    // corpus-dominant one. One stratum-keyed shuffle.
    "d39_weighted_stratified" -> Q(
      (s, dir) => Curation.weightedStratifiedSample(
          table(s, dir, "documents").select("doc_id", "lang", "n_chars"),
          col("lang"), col("doc_id"), col("n_chars"), n = 20)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("priority_nano"),
          col("sample_rank").cast("long").as("sample_rank"))
        .orderBy("lang", "sample_rank"),
      Some(s"""WITH p AS (SELECT doc_id, lang, n_chars,
              |    CAST(ROUND(pow(
              |      (CAST((${duckHash60("CAST(doc_id AS VARCHAR)")})
              |         % 1000000 AS DOUBLE) + 0.5) / 1000000.0,
              |      1.0 / n_chars) * 1e9) AS BIGINT) AS priority_nano
              |  FROM documents WHERE n_chars > 0),
              |r AS (SELECT doc_id, lang, n_chars, priority_nano,
              |    CAST(row_number() OVER (PARTITION BY lang
              |      ORDER BY priority_nano DESC, doc_id)
              |      AS BIGINT) AS sample_rank
              |  FROM p)
              |SELECT doc_id, lang, n_chars, priority_nano, sample_rank
              |FROM r WHERE sample_rank <= 20
              |ORDER BY lang, sample_rank""".stripMargin)),

    // Exact tie-aware ROC-AUC (Mann-Whitney U, midranks) of a score
    // against a binary label — the "does this quality signal actually
    // separate the classes" evaluation a curation stage runs before
    // trusting a filter. Scale shape: the corpus collapses to its
    // DISTINCT score values first; the running-rank window rides that
    // bounded frame, never corpus rows; 2U stays pure integer.
    "q40_roc_auc" -> Q(
      (s, dir) => graft.pipeline.Eval.rocAuc(
        table(s, dir, "embeddings"),
        element_at(col("embedding"), 1), pmod(col("label"), lit(2))),
      Some("""WITH pts AS (SELECT embedding[1] AS s,
             |    CASE WHEN label % 2 = 1 THEN 1 ELSE 0 END AS y
             |  FROM embeddings),
             |g AS (SELECT s, CAST(sum(y) AS BIGINT) AS pos,
             |    CAST(count(*) - sum(y) AS BIGINT) AS neg
             |  FROM pts GROUP BY s),
             |w AS (SELECT s, pos, neg,
             |    COALESCE(CAST(sum(neg) OVER (ORDER BY s
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |      AS BIGINT), 0) AS neg_below
             |  FROM g),
             |u AS (SELECT
             |    CAST(sum(2 * neg_below * pos + neg * pos) AS BIGINT)
             |      AS u2,
             |    CAST(sum(pos) AS BIGINT) AS n_pos,
             |    CAST(sum(neg) AS BIGINT) AS n_neg
             |  FROM w)
             |SELECT ROUND(CAST(u2 AS DOUBLE)
             |    / (2.0 * n_pos * n_neg), 6) AS auc,
             |  n_pos, n_neg
             |FROM u""".stripMargin)),

    // Population Stability Index between two corpus segments'
    // length-bucket distributions, micro-quantized — the drift
    // monitor between snapshots/sources/slices. Laplace-smoothed
    // over the observed bucket set so empty cells are defined
    // identically in both engines; per-bucket terms quantize to
    // integers before the sum (d28 discipline).
    "q41_psi_drift" -> Q(
      (s, dir) => graft.pipeline.Eval.psiMicro(
        table(s, dir, "documents"),
        least(expr("n_chars div 100"), lit(9L)), col("lang"),
        "en", "zh"),
      Some("""WITH pts AS (SELECT least(n_chars // 100, 9) AS bucket,
             |    lang
             |  FROM documents WHERE lang IN ('en', 'zh')),
             |h AS (SELECT bucket,
             |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
             |      AS BIGINT) AS ca,
             |    CAST(sum(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END)
             |      AS BIGINT) AS cb
             |  FROM pts GROUP BY bucket),
             |t AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
             |    CAST(sum(cb) AS BIGINT) AS nb,
             |    CAST(count(*) AS BIGINT) AS b
             |  FROM h),
             |terms AS (SELECT CAST(ROUND(1e6
             |      * ((CAST(ca + 1 AS DOUBLE) / (na + b))
             |        - (CAST(cb + 1 AS DOUBLE) / (nb + b)))
             |      * ln((CAST(ca + 1 AS DOUBLE) / (na + b))
             |        / (CAST(cb + 1 AS DOUBLE) / (nb + b))))
             |    AS BIGINT) AS term, na, nb, b
             |  FROM h, t)
             |SELECT CAST(sum(term) AS BIGINT) AS psi_micro,
             |  na AS n_a, nb AS n_b, b AS n_buckets
             |FROM terms GROUP BY na, nb, b""".stripMargin)),

    // The asymmetric containment GATE, two-sided: synthetic 12-token
    // fragments (the d35 fixture shape) arrive against the documents
    // corpus, probe with their own df-ordered shingle prefix against
    // the corpus inverted index (shingles unseen in the corpus rank
    // rarest via df 0), and verify with exact token containment. The
    // batch side broadcasts; the corpus never enters a shuffle — the
    // streaming admission path (Dedup.containmentGateStream) runs
    // THIS computation per micro-batch against a pinned index.
    "d37_containment_gate" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents").select("doc_id", "text")
        Dedup.prefixContainmentPairsAgainst(containmentFrags(docs), docs,
            "doc_id", "text", threshold = 0.9)
          .orderBy("id_a", "id_b").limit(2000)
      },
      Some(duckContainmentGateSql(0.9))),

    // Batch REPLAY of the streaming containment gate: the fragment
    // set splits into two micro-batches (doc_id parity), the corpus
    // ContainmentIndex is built and PINNED once, and each batch runs
    // prefixContainmentPairsAgainstIndex — the literal per-batch
    // body of Dedup.containmentGateStream — with the results unioned.
    // Per-probe prefix ranking depends only on corpus df, so the
    // union over disjoint batches must equal the one-shot whole-set
    // run: THAT equivalence (and the sink's exact semantics) is what
    // the oracle pins, driver-visible rather than spec-only.
    "d41_containment_gate_replay" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents").select("doc_id", "text")
        val frags = containmentFrags(docs)
        val index = Dedup.ContainmentIndex
          .build(docs, "doc_id", "text").pinned
        val batches = Seq(0, 1).map { parity =>
          Dedup.prefixContainmentPairsAgainstIndex(
            frags.filter(pmod(col("doc_id"), lit(2L)) === parity),
            index, "doc_id", "text", threshold = 0.8)
        }
        batches.reduce(_ unionByName _)
          .orderBy("id_a", "id_b").limit(2000)
      },
      Some(duckContainmentGateSql(0.8))),

    // Batch REPLAY of the streaming PSI drift monitor: one source's
    // docs arrive as the micro-batch and are scored against the
    // pinned histogram of the REST of the corpus — the literal
    // per-batch body of Eval.psiDriftStream (referenceHistogram +
    // psiAgainstReference, full-outer bucket domain, Laplace
    // smoothing, micro-quantized terms), driver-oracle-checked
    // rather than spec-only.
    "q42_psi_reference" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val bucket = least(expr("n_chars div 100"), lit(9L))
        val refH = graft.pipeline.Eval.referenceHistogram(
          docs.filter(col("source") =!= "src0"), bucket)
        graft.pipeline.Eval.psiAgainstReference(
          docs.filter(col("source") === "src0"), refH, bucket)
      },
      Some("""WITH a AS (SELECT least(n_chars // 100, 9) AS bucket,
             |    CAST(count(*) AS BIGINT) AS ca
             |  FROM documents WHERE source = 'src0' GROUP BY 1),
             |b AS (SELECT least(n_chars // 100, 9) AS bucket,
             |    CAST(count(*) AS BIGINT) AS cb
             |  FROM documents WHERE source <> 'src0' GROUP BY 1),
             |h AS (SELECT COALESCE(a.ca, 0) AS ca,
             |    COALESCE(b.cb, 0) AS cb
             |  FROM a FULL OUTER JOIN b ON a.bucket = b.bucket),
             |t AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
             |    CAST(sum(cb) AS BIGINT) AS nb,
             |    CAST(count(*) AS BIGINT) AS nbuckets
             |  FROM h),
             |terms AS (SELECT CAST(ROUND(1e6
             |      * ((CAST(ca + 1 AS DOUBLE) / (na + nbuckets))
             |        - (CAST(cb + 1 AS DOUBLE) / (nb + nbuckets)))
             |      * ln((CAST(ca + 1 AS DOUBLE) / (na + nbuckets))
             |        / (CAST(cb + 1 AS DOUBLE) / (nb + nbuckets))))
             |    AS BIGINT) AS term, na, nb, nbuckets
             |  FROM h, t)
             |SELECT CAST(sum(term) AS BIGINT) AS psi_micro,
             |  na AS n_a, nb AS n_b, nbuckets AS n_buckets
             |FROM terms GROUP BY na, nb, nbuckets""".stripMargin)),

    // Canonical survivor per near-dup cluster by QUALITY (longest
    // doc, ties by smallest id) instead of min-id — the production
    // survivor policy for large heterogeneous clusters. The argmax is
    // a map-side-combining min(struct(-score,id)) aggregation, never
    // a per-component window (a boilerplate cluster can hold 10⁸
    // members; one window partition would absorb them all).
    // Batch REPLAY of the streaming RESEMBLANCE gate (the d41 pattern
    // applied to the near-dup side — with this, BOTH gates have a
    // durable-index form): arrivals are near-dup mutations of corpus
    // docs (every 41st doc, last token dropped, id shifted), split
    // into two micro-batches by parity; the corpus ResemblanceIndex
    // (banded signatures + token/size tables) is built and PINNED
    // once, each batch runs lshVerifiedPairsAgainstIndex — the literal
    // per-batch body of Dedup.nearDupGateStream — and the union is
    // oracle-checked against the one-shot whole-set SQL replay.
    // Candidates and verification for an arriving doc depend only on
    // (that doc, the corpus index), so the per-batch union must equal
    // the one-shot run — the equivalence the oracle pins.
    "d49_resemblance_gate_replay" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents").select("doc_id", "text")
        val arrivals = docs
          .filter(pmod(col("doc_id"), lit(41L)) === 0 &&
            size(split(col("text"), " ")) >= 12)
          .select((col("doc_id") + 3000000L).as("doc_id"),
            expr("array_join(slice(split(text, ' '), 1, " +
              "size(split(text, ' ')) - 1), ' ')").as("text"))
        val index = Dedup.ResemblanceIndex
          .build(docs, "doc_id", "text").pinned
        val batches = Seq(0, 1).map { parity =>
          Dedup.lshVerifiedPairsAgainstIndex(
            arrivals.filter(pmod(col("doc_id"), lit(2L)) === parity),
            index, "doc_id", "text", threshold = 0.5)
        }
        batches.reduce(_ unionByName _)
          .orderBy("id_new", "id_corpus").limit(2000)
      },
      Some(s"""WITH arr AS (SELECT doc_id + 3000000 AS doc_id,
              |    array_to_string(toks[1:len(toks)-1], ' ') AS text
              |  FROM (SELECT doc_id, str_split(text, ' ') AS toks
              |        FROM documents) t
              |  WHERE doc_id % 41 = 0 AND len(toks) >= 12),
              |${duckLshGateCtes("arr", "documents", 0.5)}
              |SELECT id_new, id_corpus, ROUND(jaccard, 6) AS jaccard
              |FROM gpairs
              |ORDER BY id_new, id_corpus LIMIT 2000""".stripMargin)),

    // Incremental index MAINTENANCE replay: the corpus ResemblanceIndex
    // is SAVEd to bucketed staging tables, an admitted batch is folded
    // in with ResemblanceIndex.append (bucketed appends — batch-sized
    // writes, no corpus rebuild), and a SECOND batch gates against the
    // LOADED, grown index. The oracle replays the gate against
    // (documents ∪ batch1) — the appended staging tables must be
    // indistinguishable from a fresh index over the grown corpus.
    // batch2's texts equal batch1's (exact dups, id-shifted), so every
    // batch2 doc must surface its admitted twin at jaccard 1.0 plus
    // whatever corpus near-dups the bands find — all SQL-replayed.
    // Index build+append run once per (application, sfDir) via Staged,
    // which holds the tables' name prefix; the timed path is the gate
    // against staged tables (the recurring production cost).
    "d50_index_append_replay" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents").select("doc_id", "text")
        def mut(offset: Long) = docs
          .filter(pmod(col("doc_id"), lit(41L)) === 0 &&
            size(split(col("text"), " ")) >= 12)
          .select((col("doc_id") + offset).as("doc_id"),
            expr("array_join(slice(split(text, ' '), 1, " +
              "size(split(text, ' ')) - 1), ' ')").as("text"))
        val prefix = Staged(s, "d50", dir) {
          val ix = s"d50_ix_${math.abs(dir.hashCode)}"
          Dedup.ResemblanceIndex.save(
            Dedup.ResemblanceIndex.build(docs, "doc_id", "text"),
            ix, buckets = 8)
          Dedup.ResemblanceIndex.append(
            Dedup.ResemblanceIndex.build(mut(3000000L), "doc_id",
              "text"),
            ix, buckets = 8)
          ix
        }
        Dedup.lshVerifiedPairsAgainstIndex(mut(4000000L),
            Dedup.ResemblanceIndex.load(s, prefix),
            "doc_id", "text", threshold = 0.5)
          .orderBy("id_new", "id_corpus").limit(2000)
      },
      Some(s"""WITH arr1 AS (SELECT doc_id + 3000000 AS doc_id,
              |    array_to_string(toks[1:len(toks)-1], ' ') AS text
              |  FROM (SELECT doc_id, str_split(text, ' ') AS toks
              |        FROM documents) t
              |  WHERE doc_id % 41 = 0 AND len(toks) >= 12),
              |arr2 AS (SELECT doc_id + 4000000 AS doc_id,
              |    array_to_string(toks[1:len(toks)-1], ' ') AS text
              |  FROM (SELECT doc_id, str_split(text, ' ') AS toks
              |        FROM documents) t
              |  WHERE doc_id % 41 = 0 AND len(toks) >= 12),
              |grown AS (SELECT doc_id, text FROM documents
              |  UNION ALL SELECT doc_id, text FROM arr1),
              |${duckLshGateCtes("arr2", "grown", 0.5)}
              |SELECT id_new, id_corpus, ROUND(jaccard, 6) AS jaccard
              |FROM gpairs
              |ORDER BY id_new, id_corpus LIMIT 2000""".stripMargin)),

    "d42_canonical_by_quality" -> Q(
      (s, dir) =>
        Dedup.canonicalByScore(
            dedupArtifacts(s, dir).components,
            table(s, dir, "documents").select(col("doc_id").as("id"),
              col("n_chars").cast("long").as("score")))
          .orderBy("component").limit(2000),
      Some(s"""WITH RECURSIVE ${duckLshVerifiedCtes("documents", 0.3)},
              |cedges AS (SELECT id_a AS a, id_b AS b FROM vpairs
              |  UNION SELECT id_b, id_a FROM vpairs),
              |creach(s, d) AS (
              |  SELECT a, b FROM cedges
              |  UNION
              |  SELECT r.s, e.b FROM creach r JOIN cedges e ON e.a = r.d),
              |ccomp AS (SELECT s AS id, least(s, min(d)) AS component
              |  FROM creach GROUP BY s),
              |ranked AS (SELECT ccomp.component, ccomp.id,
              |    row_number() OVER (PARTITION BY ccomp.component
              |      ORDER BY d.n_chars DESC, ccomp.id ASC) AS rk,
              |    count(*) OVER (PARTITION BY ccomp.component)
              |      AS cluster_size
              |  FROM ccomp JOIN documents d ON d.doc_id = ccomp.id)
              |SELECT component, id AS canonical_id,
              |  CAST(cluster_size AS BIGINT) AS cluster_size
              |FROM ranked WHERE rk = 1
              |ORDER BY component LIMIT 2000""".stripMargin)),

    // EFFECTIVE dataset size after near-dup discounting: per source,
    // each doc contributes tokens/cluster_size — a 10-clique of
    // near-identical docs carries ONE doc's worth of information — the
    // unique-information mass a mixture planner budgets against
    // instead of raw token counts. A report OVER the staged family
    // state (dedupArtifacts), like d40/d42/d43/d44: token counts
    // project ahead of the join so only 24-byte rows meet the
    // pair-sized assignment, and the per-doc discount micro-quantizes
    // BEFORE the sum (order-free, engine-exact). The oracle replays
    // the full pair pipeline + CC standalone.
    "d51_effective_tokens" -> Q(
      (s, dir) =>
        Curation.effectiveTokenMass(table(s, dir, "documents"),
            "doc_id", "text", "source",
            dedupArtifacts(s, dir).components)
          .orderBy("source"),
      Some(s"""WITH RECURSIVE ${duckLshVerifiedCtes("documents", 0.3)},
              |eedges AS (SELECT id_a AS a, id_b AS b FROM vpairs
              |  UNION SELECT id_b, id_a FROM vpairs),
              |ereach(s, d) AS (
              |  SELECT a, b FROM eedges
              |  UNION
              |  SELECT r.s, e.b FROM ereach r JOIN eedges e ON e.a = r.d),
              |ecomp AS (SELECT s AS id, least(s, min(d)) AS component
              |  FROM ereach GROUP BY s),
              |esz AS (SELECT component, count(*) AS cs
              |  FROM ecomp GROUP BY component),
              |easz AS (SELECT ecomp.id, esz.cs
              |  FROM ecomp JOIN esz USING (component)),
              |etok AS (SELECT doc_id, source,
              |    CAST(len(str_split(text, ' ')) AS BIGINT) AS nt
              |  FROM documents)
              |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
              |  CAST(sum(nt) AS BIGINT) AS raw_tokens,
              |  CAST(sum(CAST(round(CAST(nt AS DOUBLE) * 1000000
              |      / CAST(COALESCE(easz.cs, 1) AS DOUBLE)) AS BIGINT))
              |    AS BIGINT) AS effective_tokens_micro
              |FROM etok LEFT JOIN easz ON easz.id = etok.doc_id
              |GROUP BY source ORDER BY source""".stripMargin)),

    // LEAKAGE-SAFE splits: the split hash keys on the near-dup
    // CLUSTER (singletons on their own id), so no cluster ever spans
    // train and test — per-doc hashing (d16) leaks near-identical
    // pairs across the split boundary and the eval set scores
    // memorization. Reported as per-split doc/token totals like d16,
    // so the two policies' outputs are directly comparable.
    "d43_leakage_safe_split" -> Q(
      (s, dir) =>
        Curation.assignSplitsByGroup(table(s, dir, "documents"),
            "doc_id", dedupArtifacts(s, dir).components)
          .groupBy("split").agg(
            count(lit(1)).as("docs"),
            sum(TextStats.tokenCount(col("text"))).as("tokens"))
          .orderBy("split"),
      Some(s"""WITH RECURSIVE ${duckLshVerifiedCtes("documents", 0.3)},
              |sedges AS (SELECT id_a AS a, id_b AS b FROM vpairs
              |  UNION SELECT id_b, id_a FROM vpairs),
              |sreach(s, d) AS (
              |  SELECT a, b FROM sedges
              |  UNION
              |  SELECT r.s, e.b FROM sreach r JOIN sedges e ON e.a = r.d),
              |scomp AS (SELECT s AS id, least(s, min(d)) AS component
              |  FROM sreach GROUP BY s),
              |keyed AS (SELECT d.doc_id,
              |    len(str_split(d.text, ' ')) AS ntok,
              |    (${duckHash60(
                  "CAST(COALESCE(scomp.component, d.doc_id) AS VARCHAR)")})
              |      % 100 AS b
              |  FROM documents d LEFT JOIN scomp ON scomp.id = d.doc_id)
              |SELECT CASE WHEN b < 90 THEN 'train'
              |            WHEN b < 95 THEN 'val'
              |            ELSE 'test' END AS split,
              |  CAST(count(*) AS BIGINT) AS docs,
              |  CAST(sum(ntok) AS BIGINT) AS tokens
              |FROM keyed GROUP BY 1 ORDER BY split""".stripMargin)),

    // Exact tie-aware average precision (step-wise PR-AUC) of the
    // q40 score/label pair — the imbalance-robust complement to
    // ROC-AUC (a quality classifier over a mostly-good corpus looks
    // fine on ROC while its precision collapses; AP sees it). Same
    // distinct-score-frame shape and integer micro discipline as q40.
    "q43_pr_auc" -> Q(
      (s, dir) => graft.pipeline.Eval.prAuc(
        table(s, dir, "embeddings"),
        element_at(col("embedding"), 1), pmod(col("label"), lit(2))),
      Some("""WITH pts AS (SELECT embedding[1] AS s,
             |    CASE WHEN label % 2 = 1 THEN 1 ELSE 0 END AS y
             |  FROM embeddings),
             |g AS (SELECT s, CAST(sum(y) AS BIGINT) AS pos,
             |    CAST(count(*) - sum(y) AS BIGINT) AS neg
             |  FROM pts GROUP BY s),
             |w AS (SELECT s, pos, neg,
             |    CAST(sum(pos) OVER (ORDER BY s DESC
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS BIGINT) AS cum_pos,
             |    CAST(sum(pos + neg) OVER (ORDER BY s DESC
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS BIGINT) AS cum_n
             |  FROM g),
             |t AS (SELECT
             |    CAST(sum(CASE WHEN pos > 0 THEN
             |        CAST(ROUND(1e6 * pos * cum_pos / cum_n) AS BIGINT)
             |      ELSE 0 END) AS BIGINT) AS tsum,
             |    CAST(sum(pos) AS BIGINT) AS n_pos,
             |    CAST(sum(neg) AS BIGINT) AS n_neg
             |  FROM w)
             |SELECT CASE WHEN n_pos > 0 THEN
             |    CAST(ROUND(CAST(tsum AS DOUBLE) / n_pos) AS BIGINT)
             |  END AS ap_micro, n_pos, n_neg
             |FROM t""".stripMargin)),

    // Expected Calibration Error of the q40 classifier's affine-mapped
    // prediction p = (s+1)/2 against the label, 10 equal-width bins —
    // Σ_b |Σ_b round(1e6·p) − 1e6·pos_b| / N stays integer until the
    // final division, so the drift-free d28 discipline applies to a
    // metric usually computed in floats.
    "q44_calibration_error" -> Q(
      (s, dir) => graft.pipeline.Eval.calibrationErrorMicro(
        table(s, dir, "embeddings"),
        (element_at(col("embedding"), 1) + lit(1.0)) / lit(2.0),
        pmod(col("label"), lit(2))),
      Some("""WITH pts AS (SELECT
             |    (CAST(embedding[1] AS DOUBLE) + 1.0) / 2.0 AS p,
             |    CASE WHEN label % 2 = 1 THEN 1 ELSE 0 END AS y
             |  FROM embeddings),
             |b AS (SELECT least(9, greatest(0,
             |      CAST(floor(p / 0.1) AS BIGINT))) AS bin,
             |    CAST(ROUND(p * 1e6) AS BIGINT) AS pm, y
             |  FROM pts),
             |g AS (SELECT bin, CAST(sum(pm) AS BIGINT) AS psum,
             |    CAST(sum(y) AS BIGINT) AS pos,
             |    CAST(count(*) AS BIGINT) AS nb
             |  FROM b GROUP BY bin),
             |t AS (SELECT CAST(sum(abs(psum - 1000000 * pos))
             |      AS BIGINT) AS num,
             |    CAST(sum(nb) AS BIGINT) AS n,
             |    CAST(count(*) AS BIGINT) AS n_bins_used
             |  FROM g)
             |SELECT CAST(ROUND(CAST(num AS DOUBLE) / n) AS BIGINT)
             |    AS ece_micro, n, n_bins_used
             |FROM t""".stripMargin)),

    // Two-sample Kolmogorov–Smirnov drift between two sources' doc-
    // length distributions — the bucket-free companion of the PSI
    // monitor (q41 needs a binning choice; KS takes the max CDF gap
    // over the observed values). Integer arithmetic end to end: the
    // corpus collapses to its value-distinct frame, the cumulative
    // window rides that bounded frame only, and the statistic is a
    // floor division of longs — hash-exact in any engine.
    "q45_ks_drift" -> Q(
      (s, dir) => graft.pipeline.Eval.ksMicro(
        table(s, dir, "documents"), col("n_chars"), col("source"),
        "src0", "src1"),
      Some(s"""WITH pts AS (SELECT n_chars AS v, source FROM documents
              |  WHERE source IN ('src0', 'src1')),
              |g AS (SELECT v,
              |    CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)
              |      AS BIGINT) AS ca,
              |    CAST(sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END)
              |      AS BIGINT) AS cb
              |  FROM pts GROUP BY v),
              |$duckKsTail""".stripMargin)),

    // Batch REPLAY of the streaming KS drift monitor: one source's
    // docs arrive as the micro-batch and are KS-scored against the
    // pinned value counts of the REST of the corpus — the literal
    // per-batch body of Eval.ksDriftStream (referenceValueCounts +
    // ksAgainstReference, full-outer value domain, shared
    // integer-exact arithmetic), driver-oracle-checked rather than
    // spec-only (the q42/d41 promotion pattern).
    "q49_ks_reference" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val refC = graft.pipeline.Eval.referenceValueCounts(
          docs.filter(col("source") =!= "src0"), col("n_chars"))
        graft.pipeline.Eval.ksAgainstReference(
          docs.filter(col("source") === "src0"), refC, col("n_chars"))
      },
      Some(s"""WITH $duckRefCountsCtes,
              |$duckKsTail""".stripMargin)),

    // Streaming exact-median drift monitor, batch-replayed (the
    // d41/q42/q49 promotion pattern): the literal per-batch body
    // of Eval.quantileDriftStream (= quantileOfBatch, the narrowing
    // selection running its driver-coordinated rounds inside the
    // sink) over three deterministic micro-batches of the events
    // value column. KS (q49) flags a shape change; this trend says
    // which way and how far the LOCATION moved, in the value's own
    // units. The oracle replays each batch's ⌈n/2⌉ crossing.
    "q56_stream_median_replay" -> Q(
      (s, dir) => {
        val ev = SE.readEventsTable(s, dir)
          .select(col("event_id"), col("value"))
        (0L until 3L).map { b =>
          graft.pipeline.Eval.quantileOfBatch(
            ev.filter(pmod(col("event_id"), lit(3L)) === b),
            col("value"), 0.5, buckets = 32, threshold = 500)
            .withColumn("batch_id", lit(b))
        }.reduce(_ unionByName _).orderBy("batch_id")
      },
      Some("""WITH s AS (SELECT event_id % 3 AS b,
             |    CAST(value AS DOUBLE) AS v FROM events
             |  WHERE value IS NOT NULL
             |    AND NOT isnan(CAST(value AS DOUBLE))),
             |t AS (SELECT b, CAST(count(*) AS BIGINT) AS n
             |  FROM s GROUP BY b),
             |kx AS (SELECT b, n, greatest(CAST(1 AS BIGINT),
             |    CAST(ceil(CAST(0.5 AS DOUBLE) * n) AS BIGINT)) AS k
             |  FROM t),
             |r AS (SELECT b, v,
             |    row_number() OVER (PARTITION BY b ORDER BY v) AS rn
             |  FROM s)
             |SELECT (SELECT r.v FROM r
             |    WHERE r.b = kx.b AND r.rn = kx.k) AS value,
             |  n, k, CAST(kx.b AS BIGINT) AS batch_id
             |FROM kx ORDER BY batch_id""".stripMargin)),

    // Offline retrieval eval: NDCG@10 / MRR@10 / recall@10 of the
    // SEMANTIC run (embedding-cosine top-20, the r2 sem list) against
    // graded LEXICAL relevance judgments (query-term occurrence
    // thresholds over the id-aligned documents) — the cross-modal
    // sanity check on any ANN retrieval stage: does the vector index
    // recover what the terms say matters? DCG terms micro-quantize
    // before summation; NDCG/MRR/recall are integer ratios; the
    // ideal-DCG ranking is a top-k cut, never a full-qrels window.
    "q46_ndcg_eval" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val emb = table(s, dir, "embeddings")
        val q = vec0(emb)
        val run = Retrieval.asRanking(
          emb.select(col("vec_id"),
              round(Similarity.cosine(
                Similarity.toDouble(col("embedding")), typedlit(q)), 6)
                .as("cosine"))
            .orderBy(col("cosine").desc, col("vec_id").asc).limit(20),
          "vec_id", "cosine")
        val cnt = size(filter(split(col("text"), " "),
          t => t === "vector" || t === "hash" || t === "merge"))
          .cast("long")
        val qrels = docs.select(col("doc_id").as("id"),
          when(cnt >= 13, 3L).when(cnt >= 10, 2L)
            .when(cnt >= 8, 1L).otherwise(0L).as("rel"))
        graft.pipeline.Eval.ndcgMrrMicro(run, qrels, k = 10)
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             |  FROM embeddings),
             |qq AS (SELECT v AS q FROM e WHERE vec_id = 0),
             |cs AS (SELECT vec_id AS id, ROUND(list_dot_product(v, q)
             |    / (sqrt(list_dot_product(v, v))
             |       * sqrt(list_dot_product(q, q))), 6) AS c
             |  FROM e, qq),
             |run AS (SELECT id, CAST(row_number() OVER
             |    (ORDER BY c DESC, id ASC) AS BIGINT) AS rank
             |  FROM (SELECT * FROM cs ORDER BY c DESC, id ASC LIMIT 20)),
             |qr AS (SELECT doc_id AS id,
             |    CASE WHEN cnt >= 13 THEN 3 WHEN cnt >= 10 THEN 2
             |      WHEN cnt >= 8 THEN 1 ELSE 0 END AS rel
             |  FROM (SELECT doc_id,
             |      CAST(len(list_filter(str_split(text, ' '),
             |        t -> t IN ('vector', 'hash', 'merge'))) AS BIGINT)
             |        AS cnt
             |    FROM documents) x),
             |j AS (SELECT r.rank, COALESCE(q.rel, 0) AS rel
             |  FROM run r LEFT JOIN qr q USING (id)),
             |ra AS (SELECT
             |    CAST(sum(CASE WHEN rank <= 10 THEN
             |      CAST(ROUND(1e6 * (pow(2, rel) - 1) / log2(rank + 1))
             |        AS BIGINT) ELSE 0 END) AS BIGINT) AS dcg_micro,
             |    min(CASE WHEN rank <= 10 AND rel > 0 THEN rank END)
             |      AS first_rel,
             |    CAST(sum(CASE WHEN rank <= 10 AND rel > 0 THEN 1
             |      ELSE 0 END) AS BIGINT) AS hits,
             |    CAST(count(*) AS BIGINT) AS n_run
             |  FROM j),
             |relv AS (SELECT id, rel FROM qr WHERE rel > 0),
             |ideal AS (SELECT CAST(COALESCE(sum(
             |      CAST(ROUND(1e6 * (pow(2, rel) - 1) / log2(irank + 1))
             |        AS BIGINT)), 0) AS BIGINT) AS idcg_micro
             |  FROM (SELECT rel, row_number() OVER
             |      (ORDER BY rel DESC, id ASC) AS irank FROM relv) t
             |  WHERE irank <= 10),
             |nrel AS (SELECT CAST(count(*) AS BIGINT) AS n_relevant
             |  FROM relv)
             |SELECT CASE WHEN idcg_micro > 0
             |    THEN (1000000 * dcg_micro) // idcg_micro END
             |    AS ndcg_micro,
             |  CAST(COALESCE(1000000 // first_rel, 0) AS BIGINT)
             |    AS mrr_micro,
             |  CASE WHEN n_relevant > 0
             |    THEN (1000000 * hits) // n_relevant END AS recall_micro,
             |  n_relevant, n_run
             |FROM ra, ideal, nrel""".stripMargin)),

    // Two-stage binary ANN: sign-bit quantization packs each 64-dim
    // embedding into two 32-bit words (a map-only popcount scan ~256×
    // smaller than the floats — at scale the words are the persisted
    // index column), Hamming distance cuts to 100 candidates via
    // TakeOrderedAndProject, exact cosine reranks the candidates only.
    // Both stages deterministic → engine-replayable bit-for-bit.
    "e14_sign_hamming_topk" -> Q(
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
        val q = vec0(emb)
        Similarity.signHammingTopK(emb, "vec_id", "embedding", q,
          k = 20, candidates = 100)
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             |  FROM embeddings),
             |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
             |sw AS (SELECT vec_id, v,
             |    list_transform(generate_series(0, 1), w ->
             |      CAST(list_sum(list_transform(generate_series(0, 31),
             |        j -> CASE WHEN v[32*w + j + 1] > 0
             |          THEN CAST(1 AS BIGINT) << j
             |          ELSE CAST(0 AS BIGINT) END)) AS BIGINT)) AS words
             |  FROM e),
             |qw AS (SELECT
             |    list_transform(generate_series(0, 1), w ->
             |      CAST(list_sum(list_transform(generate_series(0, 31),
             |        j -> CASE WHEN qv[32*w + j + 1] > 0
             |          THEN CAST(1 AS BIGINT) << j
             |          ELSE CAST(0 AS BIGINT) END)) AS BIGINT)) AS words
             |  FROM q),
             |hd AS (SELECT sw.vec_id, sw.v, CAST(
             |    bit_count(xor(sw.words[1], qw.words[1])) +
             |    bit_count(xor(sw.words[2], qw.words[2])) AS BIGINT)
             |      AS hamming
             |  FROM sw, qw),
             |cand AS (SELECT * FROM hd
             |  ORDER BY hamming ASC, vec_id ASC LIMIT 100)
             |SELECT vec_id, hamming,
             |  ROUND(list_dot_product(v, qv)
             |    / (sqrt(list_dot_product(v, v))
             |       * sqrt(list_dot_product(qv, qv))), 6) AS cosine
             |FROM cand, q
             |ORDER BY cosine DESC, vec_id ASC LIMIT 20""".stripMargin)),

    // Per-vertex triangle counts + local clustering coefficient over
    // the verified near-dup graph — the per-document boilerplate
    // detector (lcc → 1: inside a template clique; lcc → 0 at high
    // degree: a hub bridging unrelated families). Same degree-ordered
    // wedge enumeration as g2 (each triangle materializes once, at its
    // (deg, id)-minimal apex), then a 3-way vertex fan-out and a
    // map-side-combining count; lcc = 2·tri/(deg·(deg−1)) by integer
    // floor division, exact in both engines.
    "g3_local_clustering" -> Q(
      (s, dir) => graft.pipeline.GraphOps.localClusteringMicro(
          dedupArtifacts(s, dir).pairs,
          "id_a", "id_b")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id").limit(2000),
      Some(s"""WITH ${duckLshVerifiedCtes("documents", 0.3)},
              |te AS (SELECT DISTINCT id_a AS lo, id_b AS hi
              |       FROM vpairs WHERE id_a < id_b),
              |td AS (SELECT id, CAST(count(*) AS BIGINT) AS deg
              |  FROM (SELECT lo AS id FROM te
              |        UNION ALL SELECT hi AS id FROM te) u
              |  GROUP BY id),
              |tri AS (SELECT e1.lo AS x, e1.hi AS y, e2.hi AS z
              |  FROM te e1 JOIN te e2 ON e2.lo = e1.hi
              |  WHERE EXISTS (SELECT 1 FROM te e3
              |    WHERE e3.lo = e1.lo AND e3.hi = e2.hi)),
              |pv AS (SELECT id, CAST(count(*) AS BIGINT) AS tri
              |  FROM (SELECT x AS id FROM tri
              |        UNION ALL SELECT y FROM tri
              |        UNION ALL SELECT z FROM tri) u
              |  GROUP BY id)
              |SELECT td.id AS doc_id, td.deg,
              |  COALESCE(pv.tri, CAST(0 AS BIGINT)) AS tri,
              |  CASE WHEN td.deg >= 2 THEN (2000000 *
              |      COALESCE(pv.tri, 0)) // (td.deg * (td.deg - 1))
              |    ELSE CAST(0 AS BIGINT) END AS lcc_micro
              |FROM td LEFT JOIN pv USING (id)
              |ORDER BY doc_id LIMIT 2000""".stripMargin
        // force CTE materialization: tri is referenced 3x and te by
        // every level — DuckDB's default inlining would re-run the
        // whole LSH chain per reference
        .replace(" AS (", " AS MATERIALIZED ("))),

    // Weight-balanced serpentine sharding for training-data export:
    // rank docs by token count (desc, id tiebreak) with the
    // DISTRIBUTED bucketed rank — range-bucketed parallel sorts, never
    // one corpus-wide row_number window — then boustrophedon-fold
    // rank−1 mod 2N so each 2N-block feeds every shard its heaviest
    // and lightest ends evenly. The report shows per-shard doc counts
    // and token totals (the balance the schedule guarantees to within
    // one max-weight row per shard).
    "d45_serpentine_shards" -> Q(
      (s, dir) => Curation.serpentineShardReport(
          serpentineShards(s, dir))
        .orderBy("shard"),
      Some(duckSerpentineSql)),

    // EXACT median without a global sort: iterative range narrowing
    // (per round: one pushable range-filtered scan + a B-cell count,
    // never data on the driver), then one bounded TakeOrdered resolve
    // — log_B(n/threshold) scans reach the exact order statistic of
    // 10^12 rows where ORDER BY + OFFSET plans an O(n log n) sort.
    // The answer is a VALUE of the multiset, so tie order and
    // interpolation conventions don't exist; the oracle's
    // row_number()-based k-th element must agree bit-for-bit.
    "q47_exact_median" -> Q(
      (s, dir) => graft.ops.DistributedSelect.exactQuantile(
        lineitem(s, dir), "l_extendedprice", q = 0.5,
        buckets = 64, threshold = 10000),
      Some("""WITH v AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v
             |  FROM lineitem),
             |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
             |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn
             |  FROM v),
             |k AS (SELECT greatest(CAST(1 AS BIGINT),
             |    CAST(ceil(0.5 * n) AS BIGINT)) AS k, n FROM n)
             |SELECT r.v AS value, k.n, k.k
             |FROM r, k WHERE r.rn = k.k""".stripMargin)),

    // Exact P99 through the MULTI-round narrowing path (q47's median
    // resolves in one round at these scales; threshold 500 forces
    // 2-3 rounds at sf0.01/sf0.1) — the driver-visible evidence that
    // iterated range-narrowing converges to the same order statistic
    // the oracle's full sort produces, round count notwithstanding.
    "q50_exact_p99" -> Q(
      (s, dir) => graft.ops.DistributedSelect.exactQuantile(
        lineitem(s, dir), "l_extendedprice", q = 0.99,
        buckets = 32, threshold = 500),
      Some("""WITH v AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v
             |  FROM lineitem),
             |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
             |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn
             |  FROM v),
             |k AS (SELECT greatest(CAST(1 AS BIGINT),
             |    CAST(ceil(CAST(0.99 AS DOUBLE) * n) AS BIGINT)) AS k,
             |    n FROM n)
             |SELECT r.v AS value, k.n, k.k
             |FROM r, k WHERE r.rn = k.k""".stripMargin)),

    // Exact WEIGHTED median — the token/byte-weighted order statistic
    // a curation report actually wants ("the price below which half
    // the QUANTITY sits", or at corpus scale "the doc length below
    // which half the TOKENS sit"). Same iterative range narrowing as
    // q47/q50 with per-cell integer WEIGHT sums driving the descent
    // and per-cell row counts bounding the resolve; weights are
    // positive integers so the crossing is exact and order-free. The
    // oracle replays the cumulative-weight crossing over the sorted
    // values; the 0.5 literal casts to DOUBLE so both engines compute
    // the identical IEEE k = ⌈0.5·W⌉ (the q50 convention).
    "q52_weighted_median" -> Q(
      (s, dir) => graft.ops.DistributedSelect.exactWeightedQuantile(
        lineitem(s, dir), "l_extendedprice", "l_quantity", q = 0.5,
        buckets = 32, threshold = 500),
      Some(s"""WITH s AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v,
             |    CAST(l_quantity AS BIGINT) AS w FROM lineitem),
             |$duckWeightedMedianTail""".stripMargin)),

    // Exact weighted median for EVERY group at once — the group-wise
    // form of q52 with all groups narrowing in the SAME scans: one
    // head groupBy seeds per-group ranges, each round is a single
    // range-joined scan returning ≤ G·B stat rows, and one bounded
    // window pass resolves every surviving group. Rounds are the MAX
    // over groups of log_B(n_g/threshold), not the sum — a thousand
    // groups cost the same scan count as one. The oracle replays the
    // per-group cumulative-weight crossing (q52's convention,
    // partitioned by group).
    "q53_group_weighted_median" -> Q(
      (s, dir) => graft.ops.DistributedSelect.groupedWeightedQuantile(
        lineitem(s, dir), "l_returnflag", "l_extendedprice",
        "l_quantity", q = 0.5, buckets = 32, threshold = 500),
      Some(s"""WITH s AS (SELECT l_returnflag AS grp,
             |    CAST(l_extendedprice AS DOUBLE) AS v,
             |    CAST(l_quantity AS BIGINT) AS w FROM lineitem),
             |${duckGroupedMedianSql("l_returnflag")}""".stripMargin)),

    // EVERY dashboard quantile in SHARED scans: P25/P50/P75/P99 of
    // one column resolved together — one head pass, each round ONE
    // envelope-filtered scan exploding rows onto the ≤4 active range
    // literals (no join), rounds = max over targets not the sum, one
    // bounded resolve for all survivors. Running q47's narrowing once
    // per quantile would pay 4× the scans for one column's stats.
    "q58_exact_quantiles" -> Q(
      (s, dir) => graft.ops.DistributedSelect.exactQuantiles(
        lineitem(s, dir), "l_extendedprice",
        Seq(0.25, 0.5, 0.75, 0.99), buckets = 32, threshold = 500),
      Some("""WITH s AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v
             |  FROM lineitem),
             |t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s),
             |qv(q) AS (VALUES (0.25), (0.5), (0.75), (0.99)),
             |kx AS (SELECT CAST(q AS DOUBLE) AS q, n,
             |    greatest(CAST(1 AS BIGINT), CAST(ceil(
             |      CAST(q AS DOUBLE) * n) AS BIGINT)) AS k
             |  FROM qv, t),
             |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn
             |  FROM s)
             |SELECT kx.q, (SELECT r.v FROM r WHERE r.rn = kx.k)
             |    AS value, n, k
             |FROM kx ORDER BY q""".stripMargin)),

    // EXACT time-to-convert quantiles: the funnel metric (first view →
    // first purchase per user, q30's machinery) composed with the
    // shared-scan exact-selection operator (q58) — "median and P99
    // conversion latency, exactly" is the product question behind
    // both, and the composition costs two event-type aggregations
    // plus one narrowing selection over the user-sized gap frame.
    "q68_time_to_convert" -> Q(
      (s, dir) => {
        val ev = rawEvents(s, dir).filter(col("user_id").isNotNull)
        val v = ev.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min(col("ts")).as("t_view"))
        val p = ev.filter(col("event_type") === "purchase")
          .groupBy("user_id").agg(min(col("ts")).as("t_buy"))
        // ts is long ns at µs resolution: div 1000 is the exact µs gap
        val gaps = v.join(p, "user_id")
          .filter(col("t_buy") >= col("t_view"))
          .select(expr("(t_buy - t_view) div 1000").as("gap_us"))
        graft.ops.DistributedSelect.exactQuantiles(gaps, "gap_us",
          Seq(0.5, 0.9, 0.99), buckets = 32, threshold = 200)
      },
      Some("""WITH fv AS (SELECT user_id,
             |    min(epoch_us(ts)) AS t_view
             |  FROM events
             |  WHERE event_type = 'view' AND user_id IS NOT NULL
             |  GROUP BY user_id),
             |fp AS (SELECT user_id, min(epoch_us(ts)) AS t_buy
             |  FROM events
             |  WHERE event_type = 'purchase' AND user_id IS NOT NULL
             |  GROUP BY user_id),
             |s AS (SELECT CAST(t_buy - t_view AS DOUBLE) AS v
             |  FROM fv JOIN fp USING (user_id)
             |  WHERE t_buy >= t_view),
             |t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s),
             |qv(q) AS (VALUES (0.5), (0.9), (0.99)),
             |kx AS (SELECT CAST(q AS DOUBLE) AS q, n,
             |    greatest(CAST(1 AS BIGINT), CAST(ceil(
             |      CAST(q AS DOUBLE) * n) AS BIGINT)) AS k
             |  FROM qv, t),
             |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn
             |  FROM s)
             |SELECT kx.q, (SELECT r.v FROM r WHERE r.rn = kx.k)
             |    AS value, n, k
             |FROM kx ORDER BY q""".stripMargin)),

    // Cohen's kappa between two binary quality raters (stopword-
    // density gate vs lexical-diversity gate) — the labeling-pipeline
    // agreement audit: raw overlap overstates agreement when both
    // gates pass almost everything; kappa discounts the chance floor.
    // One aggregation builds the 2×2 table; counts and marginal
    // products accumulate exactly (decimal(38,0) / HUGEINT — n² of a
    // 10¹²-row corpus cannot overflow), only the final division is
    // floating, mirrored expression for expression in the oracle.
    "q59_cohens_kappa" -> Q(
      (s, dir) => {
        val t = col("text")
        graft.pipeline.Eval.cohensKappa(table(s, dir, "documents"),
          TextStats.stopwordCount(t, TextStats.StopwordsEn) * 8 <
            TextStats.tokenCount(t),
          TextStats.distinctTokenCount(t) * 5 >=
            TextStats.tokenCount(t) * 2)
      },
      Some("""WITH s AS (SELECT
             |    (len(list_filter(str_split(text, ' '), x -> x IN
             |      ('the','a','an','and','of','to','in','is'))) * 8
             |      < len(str_split(text, ' '))) AS ra,
             |    (len(list_distinct(str_split(text, ' '))) * 5
             |      >= len(str_split(text, ' ')) * 2) AS rb
             |  FROM documents),
             |g AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(CASE WHEN ra AND rb THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n11,
             |    CAST(sum(CASE WHEN ra AND NOT rb THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n10,
             |    CAST(sum(CASE WHEN NOT ra AND rb THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n01,
             |    CAST(sum(CASE WHEN NOT ra AND NOT rb THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n00
             |  FROM s WHERE ra IS NOT NULL AND rb IS NOT NULL)
             |SELECT n, n11, n10, n01, n00,
             |  ROUND(CAST(CAST(n AS HUGEINT) * (n11 + n00)
             |      - ((CAST(n11 AS HUGEINT) + n10)
             |          * (CAST(n11 AS HUGEINT) + n01)
             |        + (CAST(n00 AS HUGEINT) + n01)
             |          * (CAST(n00 AS HUGEINT) + n10)) AS DOUBLE)
             |    / nullif(CAST(CAST(n AS HUGEINT) * n
             |      - ((CAST(n11 AS HUGEINT) + n10)
             |          * (CAST(n11 AS HUGEINT) + n01)
             |        + (CAST(n00 AS HUGEINT) + n01)
             |          * (CAST(n00 AS HUGEINT) + n10)) AS DOUBLE),
             |      0.0), 6) AS kappa
             |FROM g""".stripMargin)),

    // Equi-depth histogram of a heavy-tie column: boundaries are the
    // EXACT order statistics at i/B resolved in the q58 shared
    // narrowing scans, then ONE counting scan assigns bucket =
    // #{boundaries < v} via a static codegen'd comparison chain.
    // l_quantity (50 distinct values) forces boundary collisions, so
    // the fixed-size output contract (all B rows, empty buckets as
    // cnt 0) and the ties-fall-left convention are both exercised.
    "q60_equidepth_hist" -> Q(
      (s, dir) => graft.ops.DistributedSelect.equiDepthHistogram(
        lineitem(s, dir), "l_quantity", buckets = 8,
        narrowBuckets = 32, threshold = 500),
      Some("""WITH s AS (SELECT CAST(l_quantity AS DOUBLE) AS v
             |  FROM lineitem WHERE l_quantity IS NOT NULL),
             |t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s),
             |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn
             |  FROM s),
             |b AS (SELECT i, (SELECT r.v FROM r, t
             |      WHERE r.rn = greatest(CAST(1 AS BIGINT),
             |        CAST(ceil((CAST(i AS DOUBLE) / CAST(8 AS DOUBLE))
             |          * t.n) AS BIGINT))) AS bv
             |  FROM range(1, 8) ti(i)),
             |c AS (SELECT bucket, CAST(count(*) AS BIGINT) AS cnt
             |  FROM (SELECT (SELECT count(*) FROM b WHERE s.v > b.bv)
             |      AS bucket FROM s) q
             |  GROUP BY bucket)
             |SELECT ts.i AS bucket, bl.bv AS lo, bh.bv AS hi,
             |  coalesce(c.cnt, CAST(0 AS BIGINT)) AS cnt
             |FROM range(0, 8) ts(i)
             |LEFT JOIN b bl ON bl.i = ts.i
             |LEFT JOIN b bh ON bh.i = ts.i + 1
             |LEFT JOIN c ON c.bucket = ts.i
             |ORDER BY bucket""".stripMargin)),

    // Exact Spearman rank correlation with average-tie midranks —
    // Pearson over midranks, the monotone-association companion of
    // q48's Kendall tau that costs aggregations instead of pair
    // enumeration. One groupBy collapses rows to the distinct (x, y)
    // pair table; midranks derive from value tables WITHOUT a global
    // window (monotone cells + bounded offsets + per-cell prefix
    // windows); doubled midranks keep everything integral into q36's
    // exact decimal(38,0) co-moments — one float division at the end,
    // mirrored in the oracle (which replays midranks as the simple
    // distinct-value running sum — correctness needs no cell split).
    "q61_spearman" -> Q(
      (s, dir) => graft.pipeline.Eval.spearmanRho(lineitem(s, dir),
        col("l_quantity"), col("l_extendedprice")),
      Some("""WITH d AS (SELECT CAST(l_quantity AS DOUBLE) AS x,
             |    CAST(l_extendedprice AS DOUBLE) AS y
             |  FROM lineitem
             |  WHERE l_quantity IS NOT NULL
             |    AND l_extendedprice IS NOT NULL),
             |pt AS (SELECT x, y, CAST(count(*) AS HUGEINT) AS cnt
             |  FROM d GROUP BY x, y),
             |vx AS (SELECT x, sum(cnt) AS c FROM pt GROUP BY x),
             |rx AS (SELECT x,
             |    2 * (sum(c) OVER (ORDER BY x) - c) + c + 1 AS r2x
             |  FROM vx),
             |vy AS (SELECT y, sum(cnt) AS c FROM pt GROUP BY y),
             |ry AS (SELECT y,
             |    2 * (sum(c) OVER (ORDER BY y) - c) + c + 1 AS r2y
             |  FROM vy),
             |j AS (SELECT cnt, r2x, r2y
             |  FROM pt JOIN rx USING (x) JOIN ry USING (y)),
             |a AS (SELECT sum(cnt) AS n,
             |    sum(cnt * r2x) AS sx, sum(cnt * r2y) AS sy,
             |    sum(cnt * r2x * r2y) AS sxy,
             |    sum(cnt * r2x * r2x) AS sxx,
             |    sum(cnt * r2y * r2y) AS syy
             |  FROM j)
             |SELECT CAST(n AS BIGINT) AS n_rows,
             |  ROUND(CAST(n * sxy - sx * sy AS DOUBLE) /
             |    nullif(sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
             |      CAST(n * syy - sy * sy AS DOUBLE)), 0.0), 6) AS rho
             |FROM a""".stripMargin)),

    // Per-user inter-arrival BURSTINESS (Goh & Barabási 2008):
    // B = (σ−μ)/(σ+μ) of the gap distribution — the bot detector a
    // training-data pipeline runs on behavioral logs (a scripted
    // producer's near-periodic gaps score B → −1, organic activity
    // B ≳ 0). Gaps in µs from a (ts, event_id)-ordered per-user lag —
    // the gap MULTISET is tie-order invariant; the user_id partition
    // key is high-cardinality, so the window parallelizes (q16). n
    // cancels in B, so only two exact decimal co-moments feed one
    // sqrt + one division — mirrored op order, ROUND 6 both sides.
    // Users with <2 events have no gaps; zero-span users (σ+μ = 0)
    // are excluded rather than NULL-scored (Spark and DuckDB disagree
    // on NULL placement under asc, so the contract keeps NULLs out of
    // the ordered output). Most bot-like (lowest B) first.
    "q62_interarrival_burstiness" -> Q(
      (s, dir) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
        val us = expr("ts div 1000")
        def dec(c: Column): Column = c.cast("decimal(38,0)")
        rawEvents(s, dir)
          .filter(col("user_id").isNotNull)
          .select(col("user_id"),
            (us - lag(us, 1).over(w)).as("gap"))
          .filter(col("gap").isNotNull)
          .groupBy("user_id").agg(
            count(lit(1)).as("n_gaps"),
            sum(dec(col("gap"))).as("sg"),
            sum(dec(col("gap")) * dec(col("gap"))).as("sgg"))
          .filter(col("sg") > 0)
          .select(col("user_id"), col("n_gaps"),
            round((sqrt((dec(col("n_gaps")) * col("sgg") -
                col("sg") * col("sg")).cast("double")) -
                col("sg").cast("double")) /
              (sqrt((dec(col("n_gaps")) * col("sgg") -
                col("sg") * col("sg")).cast("double")) +
                col("sg").cast("double")), 6).as("burstiness"))
          .orderBy(col("burstiness").asc, col("user_id").asc)
          .limit(200)
      },
      Some("""WITH ev AS (SELECT user_id, epoch_us(ts) AS tus, event_id
             |  FROM events WHERE user_id IS NOT NULL),
             |g AS (SELECT user_id,
             |    tus - lag(tus) OVER (PARTITION BY user_id
             |      ORDER BY tus, event_id) AS gap
             |  FROM ev),
             |a AS (SELECT user_id,
             |    CAST(count(*) AS BIGINT) AS n_gaps,
             |    CAST(sum(gap) AS HUGEINT) AS sg,
             |    sum(CAST(gap AS HUGEINT) * CAST(gap AS HUGEINT))
             |      AS sgg
             |  FROM g WHERE gap IS NOT NULL GROUP BY user_id)
             |SELECT user_id, n_gaps,
             |  ROUND((sqrt(CAST(n_gaps * sgg - sg * sg AS DOUBLE))
             |      - CAST(sg AS DOUBLE))
             |    / (sqrt(CAST(n_gaps * sgg - sg * sg AS DOUBLE))
             |      + CAST(sg AS DOUBLE)), 6) AS burstiness
             |FROM a WHERE sg > 0
             |ORDER BY burstiness ASC, user_id ASC
             |LIMIT 200""".stripMargin)),

    // Behavioral logs → TRAINING DOCUMENTS: the exporter that closes
    // the loop between the reference's event logger and this engine's
    // document pipeline. Sessionize (t1's exact gap rule), then
    // assemble each session's ordered event-type transcript as a text
    // document — collect_list sorted by the (ts, event_id) struct so
    // the nondeterministic collection order cannot leak — and score
    // it with the document-quality machinery (d36's entropy: a
    // low-entropy session is a scripted producer loop). One window +
    // one aggregation; the session key is high-cardinality.
    "q67_session_transcripts" -> Q(
      (s, dir) => {
        withSessionSeq(rawEvents(s, dir), Seq("event_type"))
          .groupBy("user_id", "session_seq")
          .agg(count(lit(1)).as("n_events"),
            concat_ws(" ", transform(array_sort(collect_list(
                struct(col("ts"), col("event_id"),
                  col("event_type")))),
              x => x.getField("event_type"))).as("transcript"))
          .select(col("user_id"), col("session_seq"), col("n_events"),
            col("transcript"),
            TextStats.tokenEntropyMicroNative(col("transcript"))
              .as("entropy_micro"))
          .orderBy("user_id", "session_seq").limit(1000)
      },
      Some(s"""WITH $duckSessionCtes,
             |d AS (SELECT user_id, session_seq,
             |    CAST(count(*) AS BIGINT) AS n_events,
             |    string_agg(event_type, ' '
             |      ORDER BY ts, event_id) AS transcript
             |  FROM se GROUP BY user_id, session_seq),
             |tc AS (SELECT user_id, session_seq, event_type AS t,
             |    count(*) AS c
             |  FROM se GROUP BY user_id, session_seq, event_type),
             |tn AS (SELECT user_id, session_seq,
             |    CAST(sum(c) AS BIGINT) AS n
             |  FROM tc GROUP BY user_id, session_seq),
             |terms AS (SELECT tc.user_id, tc.session_seq,
             |    CAST(ROUND(1e6 * (CAST(c AS DOUBLE) / n)
             |      * ln(CAST(c AS DOUBLE) / n)) AS BIGINT) AS term
             |  FROM tc JOIN tn USING (user_id, session_seq)),
             |ent AS (SELECT user_id, session_seq,
             |    CAST(-sum(term) AS BIGINT) AS entropy_micro
             |  FROM terms GROUP BY user_id, session_seq)
             |SELECT d.user_id, d.session_seq, d.n_events, d.transcript,
             |  ent.entropy_micro
             |FROM d JOIN ent USING (user_id, session_seq)
             |ORDER BY user_id, session_seq LIMIT 1000""".stripMargin)),

    // Fuzzy label matching (entity resolution) over part names:
    // delete-0/delete-1 token blocking (every pair reachable by one
    // token substitution OR one token insertion/deletion shares a
    // blocking key — the declared recall neighborhood; the delete-0
    // identity key closes the round-9 advice gap where "foo bar baz"
    // vs "foo baz" shared no key) + thresholded-Levenshtein verify,
    // ALL on the distinct-value table (vocabulary-bounded — 64 names
    // at any SF; rows never enter the pair join). The metadata-dedup
    // primitive: near-identical labels, not near-identical documents.
    "d53_fuzzy_label_pairs" -> Q(
      (s, dir) => Dedup.fuzzyValuePairs(
          table(s, dir, "part"), "p_name", maxDist = 5)
        .orderBy("name_a", "name_b").limit(5000),
      Some("""WITH v AS (SELECT p_name AS s,
             |    CAST(count(*) AS BIGINT) AS n
             |  FROM part WHERE p_name IS NOT NULL GROUP BY p_name),
             |k AS (SELECT s, n, unnest(list_prepend(s, list_transform(
             |    generate_series(1, len(toks)),
             |    i -> array_to_string(list_concat(toks[1:i-1],
             |      toks[i+1:len(toks)]), ' ')))) AS k
             |  FROM (SELECT s, n, str_split(s, ' ') AS toks FROM v) t),
             |c AS (SELECT DISTINCT a.s AS name_a, a.n AS n_a,
             |    b.s AS name_b, b.n AS n_b
             |  FROM k a JOIN k b ON a.k = b.k AND a.s < b.s)
             |SELECT name_a, name_b, n_a, n_b,
             |  CAST(levenshtein(name_a, name_b) AS BIGINT) AS dist
             |FROM c
             |WHERE abs(length(name_a) - length(name_b)) <= 5
             |  AND levenshtein(name_a, name_b) <= 5
             |ORDER BY name_a, name_b LIMIT 5000""".stripMargin)),

    // Batch REPLAY of the streaming KMV distinct-count monitor: the
    // orders stream splits into three deterministic pmod batches,
    // each batch's sketch unions into the standing k-long state (the
    // literal kmvDistinctStream per-batch step — the d41/q42/q56
    // convention), and every running estimate must equal the one-shot
    // sketch over the rows seen so far: KMV union is associative AND
    // commutative, which is the semantic being pinned. The oracle
    // recomputes each cumulative prefix's k smallest hashes directly.
    "q66_stream_kmv_replay" -> Q(
      (s, dir) => {
        val k = 64
        val hashed = table(s, dir, "orders").select(
          Dedup.md5Long60(col("o_custkey").cast("string")).as("h"),
          pmod(col("o_orderkey"), lit(3L)).as("_b"))
        val reports = graft.streaming.Monitor.replay(
          (0L until 3L).map(b => hashed.filter(col("_b") === b)),
          Seq.empty[Long])(graft.pipeline.Eval.kmvBatchUpdate(_, col("h"),
          k, _))
        val rows = reports.zipWithIndex.map { case (report, b) =>
          val r = report.head()
          (b.toLong, r.getLong(0), r.getDouble(1))
        }
        import s.implicits._
        rows.toDF("batch_id", "n_in_sketch", "est_distinct")
          .orderBy("batch_id")
      },
      Some(s"""WITH r0 AS (SELECT CAST(o_orderkey % 3 AS BIGINT) AS eb,
             |    ${duckHash60("CAST(o_custkey AS VARCHAR)")} AS h
             |  FROM orders),
             |dh AS (SELECT DISTINCT gb.b, r0.h
             |  FROM generate_series(0, 2) gb(b), r0
             |  WHERE r0.eb <= gb.b),
             |rk AS (SELECT b, h,
             |    row_number() OVER (PARTITION BY b ORDER BY h) AS rn,
             |    count(*) OVER (PARTITION BY b) AS nd
             |  FROM dh),
             |kth AS (SELECT b, max(CASE WHEN rn = 64 THEN h END)
             |      AS h64, max(nd) AS nd
             |  FROM rk WHERE rn <= 64 GROUP BY b)
             |SELECT CAST(b AS BIGINT) AS batch_id,
             |  CAST(least(nd, 64) AS BIGINT) AS n_in_sketch,
             |  ROUND(CASE WHEN nd < 64 THEN CAST(nd AS DOUBLE)
             |    ELSE 63.0 * CAST(1152921504606846976 AS DOUBLE)
             |      / CAST(h64 AS DOUBLE) END, 6) AS est_distinct
             |FROM kth ORDER BY batch_id""".stripMargin)),

    // Exact 1-D Wasserstein-1 drift between the same two segments as
    // q45's KS — completing the drift family: KS is the max CDF gap,
    // W1 INTEGRATES it, weighing how FAR mass moved in the column's
    // own units. Per support interval |cumA·nB − cumB·nA|·Δv is an
    // exact integer accumulated in decimal; one micro floor division.
    "q64_wasserstein_drift" -> Q(
      (s, dir) => graft.pipeline.Eval.wasserstein1Micro(
        table(s, dir, "documents"), col("n_chars"), col("source"),
        "src0", "src1"),
      Some(s"""WITH pts AS (SELECT n_chars AS v, source FROM documents
             |  WHERE source IN ('src0', 'src1')
             |    AND n_chars IS NOT NULL),
             |g AS (SELECT v,
             |    CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)
             |      AS BIGINT) AS ca,
             |    CAST(sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END)
             |      AS BIGINT) AS cb
             |  FROM pts GROUP BY v),
             |$duckW1Tail""".stripMargin)),

    // Exact Gini coefficient of the corpus token-mass distribution —
    // the concentration report behind chunking/sampling policy (a
    // high-Gini corpus needs d12 chunking before d17 sampling or the
    // sample is whale-dominated). Ranks ride bucketedRank (no
    // full-partition window); the numerator is tie-order invariant,
    // which is why the oracle's plain ordered row_number replays it.
    "q65_gini_concentration" -> Q(
      (s, dir) => TextStats.tokenMassGini(
        table(s, dir, "documents"), "doc_id", "text"),
      Some("""WITH d AS (SELECT doc_id,
             |    CAST(len(str_split(text, ' ')) AS BIGINT) AS x
             |  FROM documents WHERE text IS NOT NULL),
             |r AS (SELECT x, CAST(row_number()
             |      OVER (ORDER BY x, doc_id) AS HUGEINT) AS r
             |  FROM d),
             |nn AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM d),
             |t AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
             |    CAST(coalesce(sum(x), 0) AS BIGINT) AS total_tokens,
             |    coalesce(sum((2 * r.r - nn.n - 1)
             |      * CAST(x AS HUGEINT)), CAST(0 AS HUGEINT)) AS num
             |  FROM r CROSS JOIN nn)
             |SELECT n_docs, total_tokens,
             |  CASE WHEN n_docs > 0 AND total_tokens > 0
             |    THEN CAST((1000000 * num)
             |      // (CAST(n_docs AS HUGEINT) * total_tokens)
             |      AS BIGINT) ELSE NULL END AS gini_micro
             |FROM t""".stripMargin)),

    // Theil T inequality of the token-mass distribution — q65's
    // entropy-family companion: ratio-weighted instead of
    // rank-weighted, additively decomposable across sources (why
    // mixture dashboards trend it). Per-doc (x·n/S)·ln(x·n/S) terms
    // quantize to micro BEFORE the sum; one mirrored /n at the end.
    "q95_theil_index" -> Q(
      (s, dir) => TextStats.tokenMassTheil(
        table(s, dir, "documents"), "doc_id", "text"),
      Some("""WITH d AS (SELECT
             |    CAST(len(str_split(text, ' ')) AS BIGINT) AS x
             |  FROM documents WHERE text IS NOT NULL
             |    AND len(str_split(text, ' ')) > 0),
             |t AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |    CAST(coalesce(sum(x), 0) AS BIGINT) AS s FROM d),
             |m AS (SELECT CAST(round(1e6
             |      * (CAST(x AS DOUBLE) * n / s)
             |      * ln(CAST(x AS DOUBLE) * n / s)) AS BIGINT)
             |    AS term
             |  FROM d, t)
             |SELECT t.n AS n_docs, t.s AS total_tokens,
             |  CAST(round(CAST(coalesce(sum(term), 0) AS DOUBLE)
             |    / t.n) AS BIGINT) AS theil_micro
             |FROM m, t GROUP BY t.n, t.s""".stripMargin)),

    // Theil decomposition by SOURCE — the property q95 was chosen
    // for: T = T_between + T_within exactly (Gini cannot do this).
    // between = is one source hogging tokens relative to its doc
    // share; within = inside-source inequality. Per-row/per-group
    // terms micro-quantize before their sums; the additive identity
    // holds to per-term rounding slack (pinned in spec).
    "q98_theil_decomposition" -> Q(
      (s, dir) => TextStats.tokenMassTheilDecomposition(
        table(s, dir, "documents"), "doc_id", "text", "source"),
      Some("""WITH d AS (SELECT CAST(source AS VARCHAR) AS g,
             |    CAST(len(str_split(text, ' ')) AS BIGINT) AS x
             |  FROM documents WHERE text IS NOT NULL
             |    AND source IS NOT NULL
             |    AND len(str_split(text, ' ')) > 0),
             |t AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |    CAST(coalesce(sum(x), 0) AS BIGINT) AS s FROM d),
             |gp AS (SELECT g, CAST(count(*) AS BIGINT) AS ng,
             |    CAST(sum(x) AS BIGINT) AS sg FROM d GROUP BY g),
             |wt AS (SELECT CAST(round(1e6
             |      * (CAST(x AS DOUBLE) / t.s)
             |      * ln(CAST(x AS DOUBLE) * gp.ng / gp.sg))
             |      AS BIGINT) AS wterm,
             |    CAST(round(1e6 * (CAST(x AS DOUBLE) / t.s)
             |      * ln(CAST(x AS DOUBLE) * t.n / t.s)) AS BIGINT)
             |      AS tterm
             |  FROM d JOIN gp USING (g) CROSS JOIN t),
             |bt AS (SELECT CAST(coalesce(sum(CAST(round(1e6
             |      * (CAST(sg AS DOUBLE) / t.s)
             |      * ln(CAST(sg AS DOUBLE) * t.n
             |        / (CAST(t.s AS DOUBLE) * CAST(ng AS DOUBLE))))
             |      AS BIGINT)), 0) AS BIGINT) AS between_micro,
             |    CAST(count(*) AS BIGINT) AS k FROM gp, t
             |  GROUP BY t.n, t.s)
             |SELECT t.n AS n_docs, t.s AS total_tokens,
             |  bt.k AS k_groups,
             |  CAST(coalesce(sum(tterm), 0) AS BIGINT)
             |    AS theil_micro,
             |  bt.between_micro,
             |  CAST(coalesce(sum(wterm), 0) AS BIGINT)
             |    AS within_micro
             |FROM wt, t, bt
             |GROUP BY t.n, t.s, bt.k, bt.between_micro"""
        .stripMargin)),

    // Benford first-digit deviation — the fabricated-segment detector
    // for numeric columns (organically-grown magnitudes follow
    // log10(1+1/d); uniformly-generated ones don't): per digit, the
    // observed micro-share vs the Benford expectation. The first
    // digit comes from the INTEGER cents' string head (log10/pow
    // flooring is the classic cross-engine trap at powers of ten —
    // 1000.0 can log10 to 2.999…96 and floor wrong; integer string
    // heads cannot disagree). Expected values are micro-integer
    // literals computed ONCE in Scala and spliced verbatim into both
    // the plan and the oracle text, so no engine evaluates log10.
    "q70_benford_deviation" -> Q(
      (s, dir) => {
        val exp = (1 to 9).map(d =>
          d.toLong -> math.round(1e6 * math.log10(1 + 1.0 / d)))
        val expCol = exp.tail.foldLeft(
          when(col("digit") === exp.head._1, lit(exp.head._2))) {
          case (acc, (d, e)) => acc.when(col("digit") === d, lit(e))
        }
        val wAll = Window.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)
        lineitem(s, dir)
          .select(round(col("l_extendedprice") * 100).cast("long")
            .as("c"))
          .filter(col("c") > 0)
          .select(substring(col("c").cast("string"), 1, 1).cast("long")
            .as("digit"))
          .groupBy("digit").agg(count(lit(1)).as("cnt"))
          .withColumn("n", sum(col("cnt")).over(wAll))
          .select(col("digit"), col("cnt"), col("n"),
            expr("(1000000 * cnt) div n").as("obs_micro"),
            expCol.as("expected_micro"))
          .withColumn("dev_micro",
            col("obs_micro") - col("expected_micro"))
          .orderBy("digit")
      },
      Some(s"""WITH c AS (SELECT CAST(round(l_extendedprice * 100)
             |      AS BIGINT) AS c
             |  FROM lineitem
             |  WHERE l_extendedprice IS NOT NULL),
             |d AS (SELECT CAST(left(CAST(c AS VARCHAR), 1) AS BIGINT)
             |    AS digit
             |  FROM c WHERE c > 0),
             |g AS (SELECT digit, CAST(count(*) AS BIGINT) AS cnt
             |  FROM d GROUP BY digit),
             |e(digit, expected_micro) AS (VALUES ${(1 to 9).map(d =>
               s"(CAST($d AS BIGINT), CAST(${math.round(
                 1e6 * math.log10(1 + 1.0 / d))} AS BIGINT))")
               .mkString(", ")}),
             |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM g)
             |SELECT g.digit, g.cnt, t.n,
             |  (1000000 * g.cnt) // t.n AS obs_micro,
             |  e.expected_micro,
             |  (1000000 * g.cnt) // t.n - e.expected_micro AS dev_micro
             |FROM g JOIN e USING (digit) CROSS JOIN t
             |ORDER BY digit""".stripMargin)),

    // Exact Mann–Whitney U (rank-sum) — the distribution-free "does
    // segment A price higher?" companion of q61: same midrank cells,
    // no pair enumeration, U from the rank-sum identity. 2U stays
    // integral (hash-exact `u2_a`); the tie-corrected z does ONE
    // sqrt + division at the end, op order mirrored. The oracle
    // replays midranks as the simple distinct-value running sum
    // (correctness needs no cell split — q61's convention).
    "q73_mannwhitney_u" -> Q(
      (s, dir) => graft.pipeline.Eval.mannWhitneyU(lineitem(s, dir),
        col("l_extendedprice"), col("l_linestatus") === "O"),
      Some(s"""WITH $duckMwRankCtes,
             |ag AS (SELECT coalesce(sum(c), 0) AS n,
             |    coalesce(sum(ca), 0) AS na,
             |    coalesce(sum(ca * r2), 0) AS ra2,
             |    coalesce(sum(c * c * c - c), 0) AS t
             |  FROM r)
             |SELECT $duckMwZCols
             |FROM ag""".stripMargin)),

    // McNemar's paired-classifier test — q63 (DeLong) asked of hard
    // DECISIONS: the full langid heuristic vs the stopword-only
    // English detector, both scored against the documents table's
    // lang label on the binary is-English task. Of the docs they
    // disagree on, does the full heuristic win significantly? Counts
    // exact; one continuity-corrected division at the end. The oracle
    // replays d3's langid CASE verbatim.
    "q74_mcnemar" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents")
          .filter(col("text").isNotNull && col("lang").isNotNull)
        val truthEn = col("lang") === "en"
        val predA = TextStats.langId(col("text")) === "en"
        val predB = TextStats.stopwordCount(col("text"),
          TextStats.StopwordsEn) > 0
        graft.pipeline.Eval.mcnemar(docs,
          predA === truthEn, predB === truthEn)
      },
      Some(s"""WITH $duckLangIdPredCtes
             |  FROM s),
             |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |    CAST(count(*) FILTER (WHERE (pa = truth)
             |      AND NOT (pb = truth)) AS BIGINT) AS b_only,
             |    CAST(count(*) FILTER (WHERE NOT (pa = truth)
             |      AND (pb = truth)) AS BIGINT) AS c_only
             |  FROM p)
             |SELECT n, b_only, c_only,
             |  ROUND(CAST(CAST(greatest(abs(b_only - c_only) - 1, 0)
             |      AS HUGEINT)
             |      * greatest(abs(b_only - c_only) - 1, 0) AS DOUBLE) /
             |    nullif(CAST(b_only + c_only AS DOUBLE), 0.0), 6)
             |    AS chi2
             |FROM m""".stripMargin)),

    // Cochran's Q — q74's McNemar completed to THREE paired
    // classifiers on the same is-English task: the full langid
    // heuristic, the stopword-only detector, and the crude
    // not-CJK-implies-English rule. All counts exact from one
    // aggregation; Q = (k−1)(kΣC² − N²)/(kN − ΣR²) is one mirrored
    // division. The oracle replays d3's langid CASE verbatim (shared
    // derivation with q74).
    "q96_cochran_q" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents")
          .filter(col("text").isNotNull && col("lang").isNotNull)
        val truthEn = col("lang") === "en"
        val predA = TextStats.langId(col("text")) === "en"
        val predB = TextStats.stopwordCount(col("text"),
          TextStats.StopwordsEn) > 0
        val predC = length(regexp_replace(col("text"),
          "[^\\x{4e00}-\\x{9fff}]", "")) * 3 <= length(col("text"))
        graft.pipeline.Eval.cochranQ(docs, Seq(
          predA === truthEn, predB === truthEn, predC === truthEn))
      },
      Some(s"""WITH $duckLangIdPredCtes,
             |    (cjk * 3 <= lc) AS pc
             |  FROM s),
             |f AS (SELECT
             |    CAST(CASE WHEN pa = truth THEN 1 ELSE 0 END
             |      AS BIGINT) AS c0,
             |    CAST(CASE WHEN pb = truth THEN 1 ELSE 0 END
             |      AS BIGINT) AS c1,
             |    CAST(CASE WHEN pc = truth THEN 1 ELSE 0 END
             |      AS BIGINT) AS c2
             |  FROM p),
             |r AS (SELECT c0, c1, c2, c0 + c1 + c2 AS ri FROM f),
             |g AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |    CAST(coalesce(sum(c0), 0) AS HUGEINT) AS s0,
             |    CAST(coalesce(sum(c1), 0) AS HUGEINT) AS s1,
             |    CAST(coalesce(sum(c2), 0) AS HUGEINT) AS s2,
             |    CAST(coalesce(sum(CAST(ri AS HUGEINT) * ri), 0)
             |      AS HUGEINT) AS r2,
             |    CAST(coalesce(sum(ri), 0) AS HUGEINT) AS nn
             |  FROM r)
             |SELECT n, CAST(3 AS BIGINT) AS k_classifiers,
             |  CASE WHEN (3 * nn - r2) > 0 THEN
             |    ROUND(CAST(3 - 1 AS DOUBLE)
             |      * CAST(3 * (s0 * s0 + s1 * s1 + s2 * s2)
             |        - nn * nn AS DOUBLE)
             |      / CAST(3 * nn - r2 AS DOUBLE), 6)
             |  ELSE NULL END AS q_stat
             |FROM g""".stripMargin)),

    // Two-sample Anderson-Darling (Scholz-Stephens tie-adjusted
    // A²akN) on the q73 split — the TAIL-WEIGHTED member completing
    // the two-sample family: KS sups the CDF gap, W1 integrates it,
    // MW ranks it, AD weights it by 1/(F(1-F)) so tail divergence
    // dominates. Doubled midpoint cumulatives keep every quantity
    // integral; per-(side,value) terms are one mirrored division
    // each, micro-quantized before the sum.
    "q102_anderson_darling" -> Q(
      (s, dir) => graft.pipeline.Eval.andersonDarling2(
        lineitem(s, dir), col("l_extendedprice"),
        col("l_linestatus") === "O"),
      Some("""WITH d AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v,
             |    (l_linestatus = 'O') AS a
             |  FROM lineitem
             |  WHERE l_extendedprice IS NOT NULL
             |    AND l_linestatus IS NOT NULL),
             |vv AS (SELECT v, CAST(count(*) AS HUGEINT) AS l,
             |    CAST(count(*) FILTER (WHERE a) AS HUGEINT) AS la
             |  FROM d GROUP BY v),
             |tt AS (SELECT CAST(coalesce(sum(l), 0) AS BIGINT) AS n,
             |    CAST(coalesce(sum(la), 0) AS BIGINT) AS na,
             |    CAST(count(*) AS BIGINT) AS nv FROM vv),
             |cw AS (SELECT l, la,
             |    2 * (sum(l) OVER (ORDER BY v) - l) + l AS b2,
             |    2 * (sum(la) OVER (ORDER BY v) - la) + la AS ma2,
             |    2 * (sum(l - la) OVER (ORDER BY v) - (l - la))
             |      + (l - la) AS mb2
             |  FROM vv),
             |tm AS (SELECT
             |    CAST(round(1e6 * CAST((tt.n - 1) * l
             |        * (tt.n * ma2 - tt.na * b2)
             |        * (tt.n * ma2 - tt.na * b2) AS DOUBLE)
             |      / CAST(CAST(tt.n AS HUGEINT) * tt.n * tt.na
             |        * (b2 * (2 * tt.n - b2) - tt.n * l)
             |        AS DOUBLE)) AS BIGINT)
             |    + CAST(round(1e6 * CAST((tt.n - 1) * l
             |        * (tt.n * mb2 - (tt.n - tt.na) * b2)
             |        * (tt.n * mb2 - (tt.n - tt.na) * b2) AS DOUBLE)
             |      / CAST(CAST(tt.n AS HUGEINT) * tt.n
             |        * (tt.n - tt.na)
             |        * (b2 * (2 * tt.n - b2) - tt.n * l)
             |        AS DOUBLE)) AS BIGINT) AS term
             |  FROM cw, tt)
             |SELECT tt.na AS n_a, tt.n - tt.na AS n_b,
             |  tt.nv AS n_values,
             |  CASE WHEN tt.na > 0 AND tt.n - tt.na > 0
             |    AND tt.nv >= 2 THEN
             |    (SELECT CAST(coalesce(sum(term), 0) AS BIGINT)
             |     FROM tm)
             |  ELSE NULL END AS ad_micro
             |FROM tt""".stripMargin)),

    // Energy distance (Szekely-Rizzo) on the same split — power
    // against ANY alternative (location, scale, shape; zero iff the
    // distributions are equal). The three pairwise |x-y| masses come
    // from ONE sorted pass over the value-distinct frame (the Gini
    // integral trick — never an all-pairs join); one mirrored
    // division of exact decimals at the end.
    "q103_energy_distance" -> Q(
      (s, dir) => graft.pipeline.Eval.energyDistance(
        lineitem(s, dir),
        round(col("l_extendedprice") * 100).cast("long"),
        col("l_linestatus") === "O"),
      Some("""WITH d AS (SELECT
             |    CAST(round(l_extendedprice * 100) AS HUGEINT) AS v,
             |    (l_linestatus = 'O') AS a
             |  FROM lineitem
             |  WHERE l_extendedprice IS NOT NULL
             |    AND l_linestatus IS NOT NULL),
             |vv AS (SELECT v,
             |    CAST(count(*) FILTER (WHERE a) AS HUGEINT) AS la,
             |    CAST(count(*) FILTER (WHERE NOT a) AS HUGEINT)
             |      AS lb
             |  FROM d GROUP BY v),
             |cw AS (SELECT v, la, lb,
             |    sum(la) OVER (ORDER BY v) - la AS ca,
             |    sum(lb) OVER (ORDER BY v) - lb AS cb,
             |    sum(la * v) OVER (ORDER BY v) - la * v AS sa,
             |    sum(lb * v) OVER (ORDER BY v) - lb * v AS sb
             |  FROM vv),
             |ag AS (SELECT
             |    CAST(coalesce(sum(la), 0) AS BIGINT) AS na,
             |    CAST(coalesce(sum(lb), 0) AS BIGINT) AS nb,
             |    coalesce(sum((v * ca - sa) * lb
             |      + (v * cb - sb) * la), 0) AS sab,
             |    coalesce(sum((v * ca - sa) * la
             |      + (v * ca - sa) * la), 0) AS saa2,
             |    coalesce(sum((v * cb - sb) * lb
             |      + (v * cb - sb) * lb), 0) AS sbb2
             |  FROM cw)
             |SELECT na AS n_a, nb AS n_b,
             |  CASE WHEN na > 0 AND nb > 0 THEN
             |    ROUND(CAST(2 * sab * na * nb
             |        - saa2 * CAST(nb AS HUGEINT) * nb
             |        - sbb2 * CAST(na AS HUGEINT) * na AS DOUBLE)
             |      / CAST(CAST(na AS HUGEINT) * na * nb * nb
             |        AS DOUBLE), 6)
             |  ELSE NULL END AS energy_micro
             |FROM ag""".stripMargin)),

    // The WHOLE two-sample family from ONE corpus aggregation — the
    // drift dashboard: KS sup, W1 integral, MW stochastic dominance,
    // AD tail weight, energy distance, over the same cents split —
    // the q101 shared-scan argument applied to the two-sample
    // family. Each stat rides its standalone FromCounts body over
    // the one collapsed value frame (bit-equal by construction,
    // pinned in spec).
    "q104_drift_panel" -> Q(
      (s, dir) => graft.pipeline.Eval.driftPanel(
        lineitem(s, dir),
        round(col("l_extendedprice") * 100).cast("long"),
        col("l_linestatus") === "O"),
      Some("""WITH d AS (SELECT
             |    CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
             |    (l_linestatus = 'O') AS a
             |  FROM lineitem
             |  WHERE l_extendedprice IS NOT NULL
             |    AND l_linestatus IS NOT NULL),
             |vv AS (SELECT v,
             |    CAST(count(*) FILTER (WHERE a) AS HUGEINT) AS ca,
             |    CAST(count(*) FILTER (WHERE NOT a) AS HUGEINT)
             |      AS cb
             |  FROM d GROUP BY v),
             |tt AS (SELECT CAST(coalesce(sum(ca), 0) AS BIGINT)
             |      AS na,
             |    CAST(coalesce(sum(cb), 0) AS BIGINT) AS nb,
             |    CAST(count(*) AS BIGINT) AS nv FROM vv),
             |cz AS (SELECT v, ca, cb,
             |    sum(ca) OVER (ORDER BY v) AS cma,
             |    sum(cb) OVER (ORDER BY v) AS cmb,
             |    lead(v) OVER (ORDER BY v) AS nxt
             |  FROM vv),
             |ksx AS (SELECT CASE WHEN tt.na > 0 AND tt.nb > 0 THEN
             |    CAST((1000000 * max(abs(cma * tt.nb
             |      - cmb * tt.na)))
             |      // (CAST(tt.na AS HUGEINT) * tt.nb) AS DOUBLE)
             |  ELSE NULL END AS stat
             |  FROM cz, tt GROUP BY tt.na, tt.nb),
             |w1x AS (SELECT CASE WHEN tt.na > 0 AND tt.nb > 0 THEN
             |    CAST((1000000 * coalesce(sum(abs(cma * tt.nb
             |        - cmb * tt.na)
             |      * CAST(nxt - v AS HUGEINT)), 0))
             |      // (CAST(tt.na AS HUGEINT) * tt.nb) AS DOUBLE)
             |  ELSE NULL END AS stat
             |  FROM cz, tt WHERE nxt IS NOT NULL
             |  GROUP BY tt.na, tt.nb),
             |mwr AS (SELECT ca, cb, ca + cb AS c,
             |    2 * (sum(ca + cb) OVER (ORDER BY v) - (ca + cb))
             |      + (ca + cb) + 1 AS r2
             |  FROM vv),
             |mwa AS (SELECT coalesce(sum(c), 0) AS n,
             |    coalesce(sum(ca), 0) AS na2,
             |    coalesce(sum(ca * r2), 0) AS ra2,
             |    coalesce(sum(c * c * c - c), 0) AS t FROM mwr),
             |mwx AS (SELECT CASE WHEN n < 2 THEN NULL ELSE
             |    ROUND(CAST(ra2 - na2 * (na2 + 1)
             |        - na2 * (n - na2) AS DOUBLE) /
             |      nullif(sqrt(CAST(na2 * (n - na2) AS DOUBLE)
             |        * CAST(n * n * n - n - t AS DOUBLE)
             |        / CAST(3 * n * (n - 1) AS DOUBLE)), 0.0), 6)
             |  END AS stat FROM mwa),
             |adc AS (SELECT ca + cb AS l, ca AS la,
             |    2 * (sum(ca + cb) OVER (ORDER BY v) - (ca + cb))
             |      + (ca + cb) AS b2,
             |    2 * (sum(ca) OVER (ORDER BY v) - ca) + ca AS ma2,
             |    2 * (sum(cb) OVER (ORDER BY v) - cb) + cb AS mb2
             |  FROM vv),
             |adt AS (SELECT
             |    CAST(round(1e6 * CAST((tt.na + tt.nb - 1) * l
             |        * (CAST(tt.na + tt.nb AS HUGEINT) * ma2
             |          - tt.na * b2)
             |        * (CAST(tt.na + tt.nb AS HUGEINT) * ma2
             |          - tt.na * b2) AS DOUBLE)
             |      / CAST(CAST(tt.na + tt.nb AS HUGEINT)
             |        * (tt.na + tt.nb) * tt.na
             |        * (b2 * (2 * (tt.na + tt.nb) - b2)
             |          - (tt.na + tt.nb) * l) AS DOUBLE))
             |      AS BIGINT)
             |    + CAST(round(1e6 * CAST((tt.na + tt.nb - 1) * l
             |        * (CAST(tt.na + tt.nb AS HUGEINT) * mb2
             |          - tt.nb * b2)
             |        * (CAST(tt.na + tt.nb AS HUGEINT) * mb2
             |          - tt.nb * b2) AS DOUBLE)
             |      / CAST(CAST(tt.na + tt.nb AS HUGEINT)
             |        * (tt.na + tt.nb) * tt.nb
             |        * (b2 * (2 * (tt.na + tt.nb) - b2)
             |          - (tt.na + tt.nb) * l) AS DOUBLE))
             |      AS BIGINT) AS term
             |  FROM adc, tt),
             |adx AS (SELECT CASE WHEN tt.na > 0 AND tt.nb > 0
             |    AND tt.nv >= 2 THEN
             |    CAST((SELECT CAST(coalesce(sum(term), 0) AS BIGINT)
             |     FROM adt) AS DOUBLE)
             |  ELSE NULL END AS stat FROM tt),
             |enc AS (SELECT v, ca AS la, cb AS lb,
             |    sum(ca) OVER (ORDER BY v) - ca AS pca,
             |    sum(cb) OVER (ORDER BY v) - cb AS pcb,
             |    sum(ca * CAST(v AS HUGEINT)) OVER (ORDER BY v)
             |      - ca * CAST(v AS HUGEINT) AS psa,
             |    sum(cb * CAST(v AS HUGEINT)) OVER (ORDER BY v)
             |      - cb * CAST(v AS HUGEINT) AS psb
             |  FROM vv),
             |eng AS (SELECT
             |    coalesce(sum((CAST(v AS HUGEINT) * pca - psa) * lb
             |      + (CAST(v AS HUGEINT) * pcb - psb) * la), 0)
             |      AS sab,
             |    coalesce(sum((CAST(v AS HUGEINT) * pca - psa) * la
             |      + (CAST(v AS HUGEINT) * pca - psa) * la), 0)
             |      AS saa2,
             |    coalesce(sum((CAST(v AS HUGEINT) * pcb - psb) * lb
             |      + (CAST(v AS HUGEINT) * pcb - psb) * lb), 0)
             |      AS sbb2
             |  FROM enc),
             |enx AS (SELECT CASE WHEN tt.na > 0 AND tt.nb > 0 THEN
             |    ROUND(CAST(2 * sab * tt.na * tt.nb
             |        - saa2 * CAST(tt.nb AS HUGEINT) * tt.nb
             |        - sbb2 * CAST(tt.na AS HUGEINT) * tt.na
             |        AS DOUBLE)
             |      / CAST(CAST(tt.na AS HUGEINT) * tt.na * tt.nb
             |        * tt.nb AS DOUBLE), 6)
             |  ELSE NULL END AS stat FROM eng, tt)
             |SELECT 'ad_micro' AS "check", stat FROM adx
             |UNION ALL SELECT 'energy_micro', stat FROM enx
             |UNION ALL SELECT 'ks_micro', stat FROM ksx
             |UNION ALL SELECT 'mw_z', stat FROM mwx
             |UNION ALL SELECT 'w1_micro', stat FROM w1x
             |ORDER BY "check"""".stripMargin)),

    // Hash-threshold quantile SAMPLE — the oracle-exact member of the
    // quantile-sketch pair (the d6/d10 pairing: q106's KLL carries
    // the tighter guarantee, this carries the bit-exact cross-engine
    // verification): keep rows whose portable 60-bit key hash falls
    // under 2^(60−L), L the smallest level with n ≤ cap·2^L (a pure
    // integer rule both engines compute identically — n is a 1-row
    // bounded parameter), then read quantiles off the ≈cap-row sample
    // by exact order statistic (the q47 ceil-selection in integer
    // form). The selection window is bounded by cap, never by n.
    "q105_sampled_quantiles" -> Q(
      (s, dir) => {
        val vals = lineitem(s, dir).select(
          round(col("l_extendedprice") * 100).cast("long").as("v"),
          Dedup.md5Long60(concat(col("l_orderkey").cast("string"),
            lit(":"), col("l_linenumber").cast("string"))).as("h"))
          .filter(col("v").isNotNull)
        // 1-row bounded parameter: n fixes the sampling level
        val n = vals.agg(count(lit(1))).head().getLong(0)
        val capS = 2048L
        var lvl = 0
        while (n > capS * (1L << lvl) && lvl < 50) lvl += 1
        val wAll = Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)
        vals.filter(col("h") < lit(1L << (60 - lvl)))
          .withColumn("rn", row_number().over(Window.orderBy("v", "h")))
          .withColumn("s_sample", count(lit(1)).over(wAll))
          .withColumn("q_permille",
            explode(typedlit(Seq(10L, 250L, 500L, 750L, 990L))))
          .filter(col("rn") === greatest(lit(1L),
            expr("(q_permille * s_sample + 999) div 1000")))
          .select(col("q_permille"), col("v").as("est_cents"),
            col("s_sample"), lit(n).as("n"),
            lit(lvl.toLong).as("sample_level"))
          .orderBy("q_permille")
      },
      Some(s"""WITH sv AS (SELECT
             |    CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
             |    ${duckHash60(
               "CAST(l_orderkey AS VARCHAR) || ':' || " +
                 "CAST(l_linenumber AS VARCHAR)")} AS h
             |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
             |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM sv),
             |lv AS (SELECT CAST(min(g.l) AS BIGINT) AS lvl
             |  FROM (SELECT unnest(generate_series(0, 50)) AS l) g, nn
             |  WHERE nn.n <= 2048 * (CAST(1 AS BIGINT) << g.l)),
             |sm AS (SELECT v, h FROM sv, lv
             |  WHERE h < (CAST(1 AS BIGINT) << (60 - lvl))),
             |sr AS (SELECT v, row_number() OVER (ORDER BY v, h) AS rn,
             |    CAST(count(*) OVER () AS BIGINT) AS s_sample FROM sm),
             |qq AS (SELECT CAST(unnest([10, 250, 500, 750, 990])
             |    AS BIGINT) AS q_permille)
             |SELECT q_permille, sr.v AS est_cents, s_sample,
             |  nn.n AS n, lv.lvl AS sample_level
             |FROM qq, sr, nn, lv
             |WHERE sr.rn = greatest(1,
             |  (q_permille * s_sample + 999) // 1000)
             |ORDER BY q_permille""".stripMargin)),

    // KLL quantile sketch (Karnin-Lang-Liberty, FOCS 2016) — the
    // mergeable rank member of the sketch family (KMV=distinct,
    // CMS/MG=frequency, MinHash=sets): O(k) state, map-side partials,
    // error preserved under any merge tree. Retained items depend on
    // partition boundaries (the MisraGries caveat), so the entry is
    // rows-only and carries its own exact-rank audit: one corpus pass
    // recounts each estimate's true rank interval and reports the
    // rank error against the 8n/k acceptance bound. q105 is the
    // oracle-exact twin; q56 the exact streaming monitor.
    "q106_kll_quantiles" -> Q(
      (s, dir) => {
        import graft.functions.KllSketch
        val vals = lineitem(s, dir).select(
          round(col("l_extendedprice") * 100).cast("long").as("v"))
        // bounded parameter fetch: the O(k) sketch, never data
        val st = KllSketch.fromRow(
          vals.agg(KllSketch.agg(256, col("v"))).head().getStruct(0))
        kllAuditFrame(vals, st, k = 256)
      },
      None),

    // Batch REPLAY of the KLL MERGE path (the q56/q66/d70 replay
    // discipline): three deterministic batches sketch independently
    // in ONE grouped pass, merge driver-side in batch order, and the
    // merged sketch must pass the same exact-rank audit as the
    // one-shot q106 — the property that lets a standing monitor keep
    // one bounded state per column and fold batches in as they land.
    "q107_kll_merge_replay" -> Q(
      (s, dir) => {
        import graft.functions.KllSketch
        val vals = lineitem(s, dir).select(
          pmod(col("l_orderkey"), lit(3L)).as("b"),
          round(col("l_extendedprice") * 100).cast("long").as("v"))
        // 3 bounded sketches from one grouped pass, merged in batch
        // order (any order keeps the envelope; a fixed one keeps the
        // run reproducible)
        val states = vals.groupBy("b")
          .agg(KllSketch.agg(256, col("v")).as("sk"))
          .orderBy("b").collect()
          .map(r => KllSketch.fromRow(r.getStruct(1)))
        val merged = states.reduceLeft(KllSketch.mergeStates(_, _, 256))
        kllAuditFrame(vals.select(col("v")), merged, k = 256)
      },
      None),

    // Per-GROUP KLL medians from ONE grouped aggregation pass — the
    // production shape of the sketch (one bounded state per domain in
    // a single scan; q44's groupedWeightedQuantile is the exact,
    // oracle-checked twin that re-scans per narrowing round). The 20
    // fetched sketches are bounded parameters; a second grouped pass
    // recounts each estimate's exact rank interval per source — the
    // q106 audit, grouped. Rows-only (retained items are
    // partition-dependent, the standing KLL adjudication).
    "q108_grouped_kll" -> Q(
      (s, dir) => {
        import graft.functions.KllSketch
        val k = 64
        val docs = groupedKllDocs(s, dir)
        val ests = docs.groupBy("source")
          .agg(KllSketch.agg(k, col("v")).as("sk"))
          .collect()
          .map { r =>
            val st = KllSketch.fromRow(r.getStruct(1))
            (r.getString(0),
              KllSketch.quantileOf(st, 500L).getOrElse(0L),
              KllSketch.numRetained(st).toLong)
          }.toSeq
        groupedKllAudit(s, docs, ests, k)
      },
      None),

    // Batch REPLAY of the per-domain KLL monitor (q107's discipline
    // applied to q108's grouped shape — the kllGroupedQuantileStream
    // fold made oracle-checkable outside a streaming harness): three
    // deterministic batches sketch per (source, batch) in ONE grouped
    // pass, fold per source in batch order — exactly the standing
    // map the streaming monitor holds — and the folded estimates must
    // pass the SAME per-source exact-rank audit as the one-shot q108.
    // Rows-only (merge-order changes retained items, the standing KLL
    // adjudication); q44 remains the grouped exact twin.
    "q109_grouped_kll_replay" -> Q(
      (s, dir) => {
        import graft.functions.KllSketch
        val k = 64
        val docs = groupedKllDocs(s, dir)
        // the batch split carries its own frame (doc_id is q109's
        // alone — q108's scan must stay two columns) with the same
        // null filters as the audit frame; a null doc_id lands in
        // batch 0 via coalesce so every audited row is in exactly
        // one batch (getLong on a null key would NPE driver-side)
        val cells = table(s, dir, "documents")
          .select(col("source"), col("n_chars").cast("long").as("v"),
            pmod(coalesce(col("doc_id"), lit(0L)), lit(3L)).as("b"))
          .filter(col("source").isNotNull && col("v").isNotNull)
          .groupBy("source", "b")
          .agg(KllSketch.agg(k, col("v")).as("sk"))
          .orderBy("source", "b").collect()
        val ests = cells.groupBy(_.getString(0)).toSeq
          .map { case (src, rows) =>
            val st = rows.sortBy(_.getLong(1))
              .map(r => KllSketch.fromRow(r.getStruct(2)))
              .reduceLeft(KllSketch.mergeStates(_, _, k))
            (src, KllSketch.quantileOf(st, 500L).getOrElse(0L),
              KllSketch.numRetained(st).toLong)
          }
        groupedKllAudit(s, docs, ests, k)
      },
      None),

    // TOKEN-WEIGHTED KLL (r13 verdict task 6): the curation family
    // selects by DOCUMENT but trains by TOKEN — the length
    // distribution a drift watch should track weighs each doc's
    // n_chars by its token count. KllSketchWeighted inserts by the
    // binary decomposition of w across the compactor's native 2^l
    // weight levels (weight conserved exactly — KllSketchSpec pins
    // Σw; an unweighted insert is the w = 1 special case). Rows-only
    // (retained items partition-dependent, the standing KLL
    // adjudication) with the q106 exact-rank audit moved to WEIGHT
    // space: one corpus pass recounts each estimate's weighted rank
    // interval against the 8W/k bound. q111_token_weighted_median is
    // the oracle-exact twin on the SAME (value, weight) pair.
    "q110_weighted_kll" -> Q(
      (s, dir) => {
        import graft.functions.KllSketch
        val k = 256
        // pinned (the llm_curate_full fork rule): the sketch pass
        // and the weighted audit recount both consume this frame —
        // the corpus scan + tokenization must run once
        val vals = table(s, dir, "documents")
          .select(col("n_chars").cast("long").as("v"),
            TextStats.tokenCount(col("text")).as("w"))
          .filter(col("v").isNotNull)
          .localCheckpoint()
        // bounded parameter fetch: the O(k) sketch, never data
        val st = KllSketch.fromRow(
          vals.agg(KllSketch.aggWeighted(k, col("v"), col("w")))
            .head().getStruct(0))
        weightedKllAuditFrame(vals, st, k)
      },
      None),

    // q110's ORACLE-EXACT twin (the q105/q106 pairing, weighted):
    // the exact token-weighted median of n_chars via the bounded
    // narrowing selection (q52's machinery over the documents pair),
    // so the weighted-quantile QUESTION q110 sketches has a
    // hash-checked exact answer beside it. The oracle replays the
    // cumulative-weight crossing.
    "q111_token_weighted_median" -> Q(
      (s, dir) => graft.ops.DistributedSelect.exactWeightedQuantile(
        table(s, dir, "documents")
          .select(col("n_chars").cast("long").as("v"),
            TextStats.tokenCount(col("text")).as("w")),
        "v", "w", q = 0.5, buckets = 32, threshold = 500),
      Some(s"""WITH s AS (SELECT CAST(n_chars AS DOUBLE) AS v,
             |    CAST(len(str_split(text, ' ')) AS BIGINT) AS w
             |  FROM documents),
             |$duckWeightedMedianTail""".stripMargin)),

    // The GROUPED form of q110 — one token-weighted KLL sketch per
    // source from a single grouped pass, the production per-domain
    // monitoring shape (q108's discipline with weighted inserts):
    // 20 bounded sketches fetched, each source's weighted median
    // recounted against its exact weighted rank interval in one
    // second grouped pass, bound 8·W_g/k per group. Rows-only (the
    // standing KLL adjudication); q113_group_token_weighted_median
    // is the oracle-exact twin on the same (group, value, weight)
    // triple.
    "q112_grouped_weighted_kll" -> Q(
      (s, dir) => {
        import graft.functions.KllSketch
        val k = 64
        // pinned (the q110 fork rule): the grouped sketch pass and
        // the per-source audit recount share one scan+tokenization
        val docs = table(s, dir, "documents")
          .select(col("source"), col("n_chars").cast("long").as("v"),
            TextStats.tokenCount(col("text")).as("w"))
          .filter(col("source").isNotNull && col("v").isNotNull)
          .localCheckpoint()
        val ests = docs.groupBy("source")
          .agg(KllSketch.aggWeighted(k, col("v"), col("w")).as("sk"))
          .collect() // one bounded sketch per source, never data
          .map { r =>
            val st = KllSketch.fromRow(r.getStruct(1))
            (r.getString(0),
              KllSketch.quantileOf(st, 500L).getOrElse(0L),
              KllSketch.numRetained(st).toLong)
          }.toSeq
        groupedWeightedKllAudit(s, docs, ests, k)
      },
      None),

    // q112's ORACLE-EXACT twin: the exact per-source token-weighted
    // median via the shared-scan grouped narrowing selection (q53's
    // machinery on the documents triple) — every source resolves in
    // the SAME bounded scans. The oracle replays the per-group
    // cumulative-weight crossing.
    "q113_group_token_weighted_median" -> Q(
      (s, dir) => graft.ops.DistributedSelect.groupedWeightedQuantile(
        table(s, dir, "documents")
          .select(col("source"), col("n_chars").cast("long").as("v"),
            TextStats.tokenCount(col("text")).as("w")),
        "source", "v", "w", q = 0.5, buckets = 32, threshold = 500),
      Some(s"""WITH s AS (SELECT source AS grp,
             |    CAST(n_chars AS DOUBLE) AS v,
             |    CAST(len(str_split(text, ' ')) AS BIGINT) AS w
             |  FROM documents),
             |${duckGroupedMedianSql("source")}""".stripMargin)),

    // Welch's unequal-variance t-test — q73's parametric companion on
    // the SAME split (rank test vs mean test over the identical
    // data: the robustness A/B an eval pipeline wants side by side).
    // Prices quantize to exact integer cents (the q70 head-digit
    // move), six decimal co-moments, then t and the
    // Welch–Satterthwaite df from three one-division IEEE doubles,
    // op order mirrored verbatim.
    "q75_welch_ttest" -> Q(
      (s, dir) => graft.pipeline.Eval.welchT(lineitem(s, dir),
        round(col("l_extendedprice") * 100).cast("long"),
        col("l_linestatus") === "O"),
      Some("""WITH d AS (SELECT CAST(round(l_extendedprice * 100)
             |      AS HUGEINT) AS v,
             |    (l_linestatus = 'O') AS a
             |  FROM lineitem
             |  WHERE l_extendedprice IS NOT NULL
             |    AND l_linestatus IS NOT NULL),
             |g AS (SELECT
             |    CAST(count(*) FILTER (WHERE a) AS HUGEINT) AS na,
             |    CAST(count(*) FILTER (WHERE NOT a) AS HUGEINT) AS nb,
             |    coalesce(sum(v) FILTER (WHERE a), 0) AS sx,
             |    coalesce(sum(v) FILTER (WHERE NOT a), 0) AS sy,
             |    coalesce(sum(v * v) FILTER (WHERE a), 0) AS sxx,
             |    coalesce(sum(v * v) FILTER (WHERE NOT a), 0) AS syy
             |  FROM d),
             |e AS (SELECT na, nb,
             |    CAST(na * sxx - sx * sx AS DOUBLE)
             |      / CAST(na * na * (na - 1) AS DOUBLE) AS va,
             |    CAST(nb * syy - sy * sy AS DOUBLE)
             |      / CAST(nb * nb * (nb - 1) AS DOUBLE) AS vb,
             |    CAST(sx * nb - sy * na AS DOUBLE)
             |      / CAST(na * nb AS DOUBLE) AS dd
             |  FROM g)
             |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
             |  CASE WHEN na < 2 OR nb < 2 THEN NULL ELSE
             |    ROUND(dd / nullif(sqrt(va + vb), 0.0), 6) END AS t_stat,
             |  CASE WHEN na < 2 OR nb < 2 THEN NULL ELSE
             |    ROUND((va + vb) * (va + vb) /
             |      nullif(va * va / CAST(na - 1 AS DOUBLE)
             |        + vb * vb / CAST(nb - 1 AS DOUBLE), 0.0), 6)
             |  END AS df_ws
             |FROM e""".stripMargin)),

    // Cliff's delta + common-language effect size on the q73 split —
    // the magnitude report that belongs NEXT TO the significance
    // tests (a 600k-row suite makes everything "significant"; delta
    // says whether it matters): δ = (#(a>b) − #(a<b))/(n_a·n_b)
    // = (u2_a − n_a·n_b)/(n_a·n_b) exactly in the doubled-midrank
    // units (ties split evenly, the standard treatment), and
    // Â = U_A/(n_a·n_b) = (δ+1)/2. Pure 1-row arithmetic over the
    // mannWhitneyU frame — exact integers into one division each.
    "q77_cliffs_delta" -> Q(
      (s, dir) => graft.pipeline.Eval.mannWhitneyU(lineitem(s, dir),
          col("l_extendedprice"), col("l_linestatus") === "O")
        // n_a·n_b multiplies in DOUBLE, not long: past the u2_a NULL
        // ceiling a long product would ANSI-overflow instead of
        // degrading to NULL as the guard's contract promises
        .select(col("n_a"), col("n_b"),
          round((col("u2_a").cast("double") -
              col("n_a").cast("double") * col("n_b").cast("double")) /
            nullif(col("n_a").cast("double") *
              col("n_b").cast("double"), lit(0.0d)), 6)
            .as("cliffs_delta"),
          round(col("u2_a").cast("double") /
            nullif(lit(2.0d) * col("n_a").cast("double") *
              col("n_b").cast("double"), lit(0.0d)), 6)
            .as("a_hat")),
      Some(s"""WITH $duckMwRankCtes,
             |ag AS (SELECT coalesce(sum(c), 0) AS n,
             |    coalesce(sum(ca), 0) AS na,
             |    coalesce(sum(ca * r2), 0) AS ra2
             |  FROM r),
             |u AS (SELECT CAST(na AS BIGINT) AS n_a,
             |    CAST(n - na AS BIGINT) AS n_b,
             |    CAST(ra2 - na * (na + 1) AS BIGINT) AS u2_a
             |  FROM ag)
             |SELECT n_a, n_b,
             |  ROUND((CAST(u2_a AS DOUBLE)
             |      - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) /
             |    nullif(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE),
             |      0.0), 6) AS cliffs_delta,
             |  ROUND(CAST(u2_a AS DOUBLE) /
             |    nullif(2.0 * CAST(n_a AS DOUBLE)
             |      * CAST(n_b AS DOUBLE), 0.0), 6) AS a_hat
             |FROM u""".stripMargin)),

    // Mann–Whitney against a PINNED REFERENCE (the q49/q69
    // convention): the rank-based drift monitor — does src0's length
    // distribution stochastically dominate the rest of the corpus? —
    // completing the reference-monitor symmetry (KS shape, W1 area,
    // PSI likelihood, quantile location, KMV cardinality, now rank
    // dominance). The batch operator IS mwDriftStream's per-batch
    // body; StatProperties pins its equivalence to q73's
    // row-level form over the union.
    "q76_mw_reference" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val refC = graft.pipeline.Eval.referenceValueCounts(
          docs.filter(col("source") =!= "src0"),
          col("n_chars").cast("double"))
        graft.pipeline.Eval.mwAgainstReference(
          docs.filter(col("source") === "src0"), refC, col("n_chars"))
      },
      Some(s"""WITH ma AS (SELECT CAST(n_chars AS DOUBLE) AS v,
             |    CAST(count(*) AS HUGEINT) AS ca
             |  FROM documents
             |  WHERE source = 'src0' AND n_chars IS NOT NULL
             |  GROUP BY 1),
             |mb AS (SELECT CAST(n_chars AS DOUBLE) AS v,
             |    CAST(count(*) AS HUGEINT) AS cb
             |  FROM documents
             |  WHERE source <> 'src0' AND n_chars IS NOT NULL
             |  GROUP BY 1),
             |mv AS (SELECT coalesce(ma.v, mb.v) AS v,
             |    coalesce(ca, 0) + coalesce(cb, 0) AS c,
             |    coalesce(ca, 0) AS ca
             |  FROM ma FULL OUTER JOIN mb ON ma.v = mb.v),
             |mr AS (SELECT v, c, ca,
             |    2 * (sum(c) OVER (ORDER BY v) - c) + c + 1 AS r2
             |  FROM mv),
             |mg AS (SELECT coalesce(sum(c), 0) AS n,
             |    coalesce(sum(ca), 0) AS na,
             |    coalesce(sum(ca * r2), 0) AS ra2,
             |    coalesce(sum(c * c * c - c), 0) AS t
             |  FROM mr)
             |SELECT $duckMwZCols
             |FROM mg""".stripMargin)),

    // Per-GROUP Mann–Whitney in shared scans (the q53/q57 grouped
    // discipline applied to the rank test): every language's "does
    // src0 run longer?" from ONE corpus pass — per-group midranks via
    // per-(group, cell) offsets under one global envelope; a
    // per-group driver loop at 1000 domains would be 1000 jobs.
    // StatProperties pins per-group equality with q73's form.
    "q78_group_mannwhitney" -> Q(
      (s, dir) => graft.pipeline.Eval.groupedMannWhitneyU(
        table(s, dir, "documents"), col("n_chars"),
        col("source") === "src0", col("lang")),
      Some(s"""WITH gd AS (SELECT lang AS g,
             |    CAST(n_chars AS DOUBLE) AS v,
             |    (source = 'src0') AS a
             |  FROM documents
             |  WHERE n_chars IS NOT NULL AND source IS NOT NULL
             |    AND lang IS NOT NULL),
             |gv AS (SELECT g, v, CAST(count(*) AS HUGEINT) AS c,
             |    CAST(count(*) FILTER (WHERE a) AS HUGEINT) AS ca
             |  FROM gd GROUP BY g, v),
             |gr AS (SELECT g, c, ca,
             |    2 * (sum(c) OVER (PARTITION BY g ORDER BY v) - c)
             |      + c + 1 AS r2
             |  FROM gv),
             |gg AS (SELECT g, coalesce(sum(c), 0) AS n,
             |    coalesce(sum(ca), 0) AS na,
             |    coalesce(sum(ca * r2), 0) AS ra2,
             |    coalesce(sum(c * c * c - c), 0) AS t
             |  FROM gr GROUP BY g)
             |SELECT g AS "group", $duckMwZCols
             |FROM gg ORDER BY g""".stripMargin)),

    // Per-GROUP Welch in one shared scan — q78's parametric twin on
    // the same per-language split: six exact co-moments ride one
    // groupBy, per-group guarded single-division t/df. Together they
    // are the per-domain robustness A/B (means vs ranks) at the cost
    // of two aggregation jobs regardless of group count.
    "q79_group_welch" -> Q(
      (s, dir) => graft.pipeline.Eval.groupedWelchT(
        table(s, dir, "documents"), col("n_chars"),
        col("source") === "src0", col("lang")),
      Some("""WITH wd AS (SELECT lang AS g,
             |    CAST(n_chars AS HUGEINT) AS v,
             |    (source = 'src0') AS a
             |  FROM documents
             |  WHERE n_chars IS NOT NULL AND source IS NOT NULL
             |    AND lang IS NOT NULL),
             |wg AS (SELECT g,
             |    CAST(count(*) FILTER (WHERE a) AS HUGEINT) AS na,
             |    CAST(count(*) FILTER (WHERE NOT a) AS HUGEINT) AS nb,
             |    coalesce(sum(v) FILTER (WHERE a), 0) AS sx,
             |    coalesce(sum(v) FILTER (WHERE NOT a), 0) AS sy,
             |    coalesce(sum(v * v) FILTER (WHERE a), 0) AS sxx,
             |    coalesce(sum(v * v) FILTER (WHERE NOT a), 0) AS syy
             |  FROM wd GROUP BY g),
             |we AS (SELECT g, na, nb,
             |    CAST(na * sxx - sx * sx AS DOUBLE)
             |      / CAST(na * na * (na - 1) AS DOUBLE) AS va,
             |    CAST(nb * syy - sy * sy AS DOUBLE)
             |      / CAST(nb * nb * (nb - 1) AS DOUBLE) AS vb,
             |    CAST(sx * nb - sy * na AS DOUBLE)
             |      / CAST(na * nb AS DOUBLE) AS dd
             |  FROM wg)
             |SELECT g AS "group", CAST(na AS BIGINT) AS n_a,
             |  CAST(nb AS BIGINT) AS n_b,
             |  CASE WHEN na < 2 OR nb < 2 THEN NULL ELSE
             |    ROUND(dd / nullif(sqrt(va + vb), 0.0), 6)
             |  END AS t_stat,
             |  CASE WHEN na < 2 OR nb < 2 THEN NULL ELSE
             |    ROUND((va + vb) * (va + vb) /
             |      nullif(va * va / CAST(na - 1 AS DOUBLE)
             |        + vb * vb / CAST(nb - 1 AS DOUBLE), 0.0), 6)
             |  END AS df_ws
             |FROM we ORDER BY g""".stripMargin)),

    // CUSUM changepoint localization over hourly buckets (Page 1954):
    // the drift family's WHERE — the monitors say the value
    // distribution moved, this names the hour the mean shifted
    // (argmax |T·cumS − S·cumC|, exact integers; the last bucket
    // before the shift). One partial+final aggregation to the bucket
    // table; every window rides the ≤B-row post-agg frame.
    "q80_cusum_changepoint" -> Q(
      (s, dir) => graft.pipeline.Eval.cusumChangepoint(
        rawEvents(s, dir).filter(col("value").isNotNull &&
          !isnan(col("value"))),
        round(col("value") * 1e6).cast("long"),
        expr("(ts div 1000) div 3600000000")),
      Some(duckCusumSql)),

    // MULTI-shift changepoint localization: binary segmentation (one
    // recursion level, the unrolled-replay discipline) — root CUSUM
    // argmax over all hourly buckets, then the same argmax re-run on
    // each side of the root cp. Two planted steps report both (the
    // root sees the dominant shift, a child sees the other); a
    // constant child reports its smallest bucket at cusum 0; an empty
    // right side emits no row. All three argmaxes run over the ONE
    // corpus-collapsed bucket frame.
    "q82_binseg_changepoints" -> Q(
      (s, dir) => graft.pipeline.Eval.cusumBinseg(
        rawEvents(s, dir).filter(col("value").isNotNull &&
          !isnan(col("value"))),
        round(col("value") * 1e6).cast("long"),
        expr("(ts div 1000) div 3600000000")),
      Some(duckBinsegSql)),

    // Batch REPLAY of the streaming BINSEG monitor: the q81 fold (one
    // shared cusumFold — batch and stream cannot drift) with the full
    // multi-shift localization as the per-batch report; after the
    // last batch the 3-row report must equal the ONE-SHOT q82 over
    // all rows (its oracle, verbatim).
    "q83_binseg_stream_replay" -> Q(
      (s, dir) => {
        val ev = rawEvents(s, dir).filter(col("value").isNotNull &&
          !isnan(col("value")))
        graft.streaming.Monitor.replay(
          (0 until 3).map(b =>
            ev.filter(pmod(col("event_id"), lit(3L)) === b)),
          Map.empty: graft.pipeline.Eval.BucketSums)(
          graft.pipeline.Eval.cusumBinsegUpdate(_,
            round(col("value") * 1e6).cast("long"),
            expr("(ts div 1000) div 3600000000"), _)).last
      },
      Some(duckBinsegSql)),

    // Robust trend over the hourly value series: Mann-Kendall S with
    // tie-corrected variance and continuity-corrected z (is there a
    // monotone trend at all — outlier-immune where q37's LSQ line is
    // not), plus the Theil-Sen median pairwise slope (its robust
    // rate). Per-bucket means quantize to micro; S/ties/var are pure
    // integers; each slope is one division of two integers; the
    // median is an exact selection. The pair frame is the post-agg
    // bucket frame squared, enumerated via the kendall single-bucket
    // broadcast trick (never a BNLJ), required under maxBuckets.
    "q84_mann_kendall_trend" -> Q(
      (s, dir) => graft.pipeline.Eval.mannKendallTheilSen(
        rawEvents(s, dir).filter(col("value").isNotNull &&
          !isnan(col("value"))),
        round(col("value") * 1e6).cast("long"),
        expr("(ts div 1000) div 3600000000")),
      Some(s"""WITH $duckSeriesCtes,
             |pr AS (SELECT
             |    CASE WHEN b.m > a.m THEN 1
             |         WHEN b.m < a.m THEN -1 ELSE 0 END AS sgn,
             |    CAST(round(CAST(b.m - a.m AS DOUBLE)
             |      / (b.x - a.x)) AS BIGINT) AS slope
             |  FROM mm a JOIN mm b ON a.x < b.x),
             |sg AS (SELECT CAST(coalesce(sum(sgn), 0) AS BIGINT)
             |    AS s_stat FROM pr),
             |tg AS (SELECT CAST(coalesce(sum(t * (t - 1)
             |      * (2 * t + 5)), 0) AS BIGINT) AS tt
             |  FROM (SELECT CAST(count(*) AS BIGINT) AS t
             |        FROM mm GROUP BY m)),
             |nb AS (SELECT CAST(count(*) AS BIGINT) AS nb FROM mm),
             |md AS (SELECT slope AS slope_med FROM (
             |    SELECT slope, row_number() OVER (ORDER BY slope)
             |      AS rn, count(*) OVER () AS np FROM pr)
             |  WHERE rn = (np + 1) // 2),
             |v18 AS (SELECT nb.nb,
             |    nb.nb * (nb.nb - 1) * (2 * nb.nb + 5) - tg.tt
             |      AS var18
             |  FROM nb, tg)
             |SELECT v18.nb AS n_buckets, sg.s_stat, v18.var18,
             |  CASE WHEN v18.var18 > 0 THEN
             |    CASE WHEN sg.s_stat > 0 THEN ROUND(
             |        CAST(sg.s_stat - 1 AS DOUBLE)
             |          / sqrt(CAST(v18.var18 AS DOUBLE) / 18.0), 6)
             |      WHEN sg.s_stat < 0 THEN ROUND(
             |        CAST(sg.s_stat + 1 AS DOUBLE)
             |          / sqrt(CAST(v18.var18 AS DOUBLE) / 18.0), 6)
             |      ELSE 0.0 END
             |  ELSE NULL END AS z,
             |  md.slope_med AS ts_slope_micro
             |FROM sg, v18, md""".stripMargin)),

    // Wald-Wolfowitz runs test on the hourly means around their
    // median — the randomness companion of q84's trend pair: too few
    // runs = regime persistence, too many = alternation. Counts are
    // exact integers (median by exact selection, equals drop), z is
    // one mirrored double expression; all windows ride the post-agg
    // bucket frame.
    "q86_runs_test" -> Q(
      (s, dir) => graft.pipeline.Eval.runsTest(
        rawEvents(s, dir).filter(col("value").isNotNull &&
          !isnan(col("value"))),
        round(col("value") * 1e6).cast("long"),
        expr("(ts div 1000) div 3600000000")),
      Some(s"""WITH $duckSeriesCtes,
             |md AS (SELECT m AS med, nb FROM (
             |    SELECT m, row_number() OVER (ORDER BY m, x) AS rn,
             |      CAST(count(*) OVER () AS BIGINT) AS nb FROM mm)
             |  WHERE rn = (nb + 1) // 2),
             |fl AS (SELECT x,
             |    CASE WHEN m > med THEN 1 ELSE -1 END AS sgn
             |  FROM mm, md WHERE m <> med),
             |fw AS (SELECT sgn,
             |    CASE WHEN lag(sgn) OVER (ORDER BY x) IS NULL
             |      OR lag(sgn) OVER (ORDER BY x) <> sgn
             |    THEN 1 ELSE 0 END AS nw FROM fl),
             |ag AS (SELECT
             |    CAST(coalesce(sum(CASE WHEN sgn = 1 THEN 1 ELSE 0
             |      END), 0) AS BIGINT) AS n_pos,
             |    CAST(coalesce(sum(CASE WHEN sgn = -1 THEN 1 ELSE 0
             |      END), 0) AS BIGINT) AS n_neg,
             |    CAST(coalesce(sum(nw), 0) AS BIGINT) AS n_runs
             |  FROM fw)
             |SELECT md.nb AS n_buckets, n_pos, n_neg, n_runs,
             |  CASE WHEN n_pos > 0 AND n_neg > 0
             |    AND 2.0 * n_pos * n_neg
             |      * (2 * n_pos * n_neg - n_pos - n_neg) > 0 THEN
             |    ROUND((CAST(n_runs AS DOUBLE)
             |      - (2.0 * n_pos * n_neg / (n_pos + n_neg) + 1.0))
             |      / sqrt(2.0 * n_pos * n_neg
             |        * (2 * n_pos * n_neg - n_pos - n_neg)
             |        / (CAST(n_pos + n_neg AS DOUBLE)
             |          * (n_pos + n_neg) * (n_pos + n_neg - 1))), 6)
             |  ELSE NULL END AS z
             |FROM ag, md""".stripMargin)),

    // One-way ANOVA F: does MEAN document length differ across the
    // languages — the many-group completion of the q75/q79 mean
    // comparisons. Per-group n·m² terms quantize to integer micro
    // BEFORE the cross-group sum (a float accumulation would be
    // order-dependent); F is two integer-ratio divisions, mirrored.
    "q87_anova_f" -> Q(
      (s, dir) => graft.pipeline.Eval.anovaF(
        table(s, dir, "documents"), col("n_chars"), col("lang")),
      Some(s"""WITH ad AS (SELECT lang AS g,
             |    CAST(n_chars AS HUGEINT) AS v FROM documents
             |  WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
             |${duckAnovaTail("f_stat")}""".stripMargin)),

    // Kruskal-Wallis H: the rank-based twin of q87's ANOVA (as MW is
    // to Welch) — does ANY language's length distribution sit higher,
    // robust to the heavy tails that move means. Pooled midranks ride
    // the shared MW machinery; per-class R2^2/(4n) terms quantize to
    // micro before the cross-class sum; tie-corrected H mirrored.
    "q88_kruskal_wallis" -> Q(
      (s, dir) => graft.pipeline.Eval.kruskalWallisH(
        table(s, dir, "documents"), col("n_chars"), col("lang")),
      Some("""WITH kd AS (SELECT lang AS cl,
             |    CAST(n_chars AS DOUBLE) AS v FROM documents
             |  WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
             |kcv AS (SELECT cl, v, CAST(count(*) AS HUGEINT) AS cvc
             |  FROM kd GROUP BY cl, v),
             |kv AS (SELECT v, sum(cvc) AS c FROM kcv GROUP BY v),
             |kr AS (SELECT v, c,
             |    2 * (sum(c) OVER (ORDER BY v) - c) + c + 1 AS r2
             |  FROM kv),
             |kc AS (SELECT cl, sum(cvc) AS ncl,
             |    coalesce(sum(cvc * kr.r2), 0) AS r2sum
             |  FROM kcv JOIN kr USING (v) GROUP BY cl),
             |kt AS (SELECT cl, ncl, r2sum,
             |    CAST(ROUND(1e6 * CAST(r2sum * r2sum AS DOUBLE)
             |      / (4 * ncl)) AS HUGEINT) AS term FROM kc),
             |ka AS (SELECT CAST(count(*) AS BIGINT) AS k,
             |    CAST(sum(ncl) AS BIGINT) AS n,
             |    coalesce(sum(term), 0) AS sumterm FROM kt),
             |kb AS (SELECT coalesce(sum(c * c * c - c), 0) AS tt,
             |    CAST(sum(c) AS BIGINT) AS n2 FROM kv)
             |SELECT k AS k_groups, n, CAST(tt AS BIGINT) AS tie_t,
             |  CASE WHEN k >= 2 AND n >= 2
             |    AND 1.0 - CAST(tt AS DOUBLE)
             |      / (CAST(n AS DOUBLE) * n * n - n) > 0 THEN
             |    ROUND((12.0 * CAST(sumterm AS DOUBLE) / 1e6
             |        / (CAST(n AS DOUBLE) * (n + 1)) - 3.0 * (n + 1))
             |      / (1.0 - CAST(tt AS DOUBLE)
             |        / (CAST(n AS DOUBLE) * n * n - n)), 6)
             |  ELSE NULL END AS h_stat
             |FROM ka JOIN kb ON ka.n = kb.n2""".stripMargin)),

    // Brown–Forsythe W: does the VARIANCE of document length differ
    // across languages — the dispersion companion that validates
    // q87's equal-variance reading. Per-language exact lower medians
    // (the grouped narrowing selector, weight 1), one broadcast
    // deviation scan, then the q87 ANOVA on |v − med| (integral
    // deviations — the median is a data value).
    "q89_brown_forsythe" -> Q(
      (s, dir) => graft.pipeline.Eval.brownForsytheF(
        table(s, dir, "documents"), col("n_chars"), col("lang"),
        buckets = 32, threshold = 500),
      Some(s"""WITH s AS (SELECT lang AS g,
             |    CAST(n_chars AS BIGINT) AS v FROM documents
             |  WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
             |t AS (SELECT g, CAST(count(*) AS BIGINT) AS wt
             |  FROM s GROUP BY g),
             |kx AS (SELECT g, greatest(CAST(1 AS BIGINT),
             |    CAST(ceil(CAST(0.5 AS DOUBLE) * wt) AS BIGINT)) AS k
             |  FROM t),
             |c AS (SELECT g, v, CAST(count(*) OVER (PARTITION BY g
             |    ORDER BY v
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |    AS BIGINT) AS cw FROM s),
             |m AS (SELECT kx.g,
             |    (SELECT min(v) FROM c
             |     WHERE c.g = kx.g AND c.cw >= kx.k) AS med
             |  FROM kx),
             |ad AS (SELECT s.g, CAST(abs(s.v - m.med) AS HUGEINT)
             |    AS v FROM s JOIN m ON m.g = s.g),
             |${duckAnovaTail("w_stat")}""".stripMargin)),

    // Jarque–Bera normality audit of the document-length
    // distribution: exact decimal power sums Σv..Σv⁴ in ONE
    // aggregation, then skewness/kurtosis/JB as mirrored double
    // expressions over those exact integers — decides whether the
    // z-scored monitors (q38's ±3σ, q41's bins) mean what they claim.
    "q90_jarque_bera" -> Q(
      (s, dir) => graft.pipeline.Eval.jarqueBera(
        table(s, dir, "documents"), col("n_chars")),
      Some("""WITH s AS (SELECT CAST(n_chars AS HUGEINT) AS v
             |  FROM documents WHERE n_chars IS NOT NULL),
             |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |    coalesce(sum(v), 0) AS s1,
             |    coalesce(sum(v * v), 0) AS s2,
             |    coalesce(sum(v * v * v), 0) AS s3,
             |    coalesce(sum(v * v * v * v), 0) AS s4 FROM s),
             |m AS (SELECT n,
             |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
             |    CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS r2,
             |    CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS r3,
             |    CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS r4
             |  FROM a),
             |cm AS (SELECT n, mu,
             |    r2 - mu * mu AS m2,
             |    r3 - 3.0 * mu * r2 + 2.0 * mu * mu * mu AS m3,
             |    r4 - 4.0 * mu * r3 + 6.0 * (mu * mu) * r2
             |      - 3.0 * (mu * mu) * (mu * mu) AS m4
             |  FROM m),
             |st AS (SELECT n, mu, m2,
             |    m3 / (m2 * sqrt(m2)) AS g1,
             |    m4 / (m2 * m2) AS g2
             |  FROM cm WHERE n >= 2 AND m2 > 0)
             |SELECT a.n,
             |  CASE WHEN a.n >= 1 THEN ROUND(CAST(a.s1 AS DOUBLE)
             |    / CAST(a.n AS DOUBLE), 6) ELSE NULL END AS mean,
             |  ROUND(st.g1, 6) AS skew_g1,
             |  ROUND(st.g2, 6) AS kurt_g2,
             |  ROUND(CAST(a.n AS DOUBLE) / 6.0 * (st.g1 * st.g1
             |    + (st.g2 - 3.0) * (st.g2 - 3.0) / 4.0), 6)
             |    AS jb_stat
             |FROM a LEFT JOIN st ON a.n = st.n""".stripMargin)),

    // Friedman Q: within each hour (the block) rank the event types'
    // mean values against each other — does any type systematically
    // run hot ACROSS hours, with the hour effect removed (the
    // blocked question q88's pooled ranks cannot ask). Complete
    // blocks only; doubled midranks over ≤k-row block windows; the
    // tie-robust Q is exact integers into one mirrored division.
    "q91_friedman" -> Q(
      (s, dir) => graft.pipeline.Eval.friedmanQ(
        rawEvents(s, dir).filter(col("value").isNotNull &&
          !isnan(col("value"))),
        round(col("value") * 1e6).cast("long"),
        expr("(ts div 1000) div 3600000000"),
        col("event_type")),
      Some("""WITH ec AS (SELECT
             |    epoch_us(ts) // 3600000000 AS b, event_type AS t,
             |    CAST(round(value * 1e6) AS HUGEINT) AS v
             |  FROM events
             |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
             |    AND value IS NOT NULL AND NOT isnan(value)),
             |cm AS (SELECT b, t, CAST(round(CAST(sum(v) AS DOUBLE)
             |    / count(*)) AS BIGINT) AS m
             |  FROM ec GROUP BY b, t),
             |kk AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS k
             |  FROM cm),
             |bc AS (SELECT b, t, m,
             |    count(*) OVER (PARTITION BY b) AS nb FROM cm),
             |cb AS (SELECT b, t, m FROM bc, kk WHERE bc.nb = kk.k),
             |rk AS (SELECT b, t,
             |    2 * rank() OVER (PARTITION BY b ORDER BY m)
             |      + count(*) OVER (PARTITION BY b, m) - 1 AS r2
             |  FROM cb),
             |ag AS (SELECT CAST(count(*) AS BIGINT) AS nk,
             |    CAST(coalesce(sum(CAST(r2 AS HUGEINT) * r2), 0)
             |      AS BIGINT) AS a2 FROM rk),
             |nn AS (SELECT CASE WHEN k = 0 THEN 0 ELSE nk // k END
             |    AS n, k, a2 FROM ag, kk),
             |pt AS (SELECT t, CAST(sum(r2) AS BIGINT) AS r2j
             |  FROM rk GROUP BY t),
             |nm AS (SELECT CAST(coalesce(sum(
             |    (r2j - n * (k + 1)) * (r2j - n * (k + 1))), 0)
             |    AS BIGINT) AS num FROM pt, nn)
             |SELECT k AS k_treatments, n AS n_blocks,
             |  CASE WHEN k >= 2 AND n >= 1
             |    AND (a2 - n * k * (k + 1) * (k + 1)) > 0 THEN
             |    ROUND(CAST(k - 1 AS DOUBLE) * CAST(num AS DOUBLE)
             |      / CAST(a2 - n * k * (k + 1) * (k + 1) AS DOUBLE),
             |      6)
             |  ELSE NULL END AS q_stat
             |FROM nn, nm""".stripMargin)),

    // Exact ACF at lags 1..8 over the hourly mean series (the q84/q86
    // series, one shared builder): the stream's memory profile —
    // slow decay is the drift the changepoint family localizes,
    // negative lag-1 is flapping. Deviations scale by n (d = n·m − S,
    // exact integers; the n² cancels in the ratio), lag pairs ride a
    // gap-aware equi-join on the ≤B-row bucket frame.
    "q92_acf" -> Q(
      (s, dir) => graft.pipeline.Eval.acf(
        rawEvents(s, dir).filter(col("value").isNotNull &&
          !isnan(col("value"))),
        round(col("value") * 1e6).cast("long"),
        expr("(ts div 1000) div 3600000000"), maxLag = 8),
      Some(s"""WITH $duckAcfCtes
             |SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
             |  CASE WHEN den > 0 THEN
             |    ROUND(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6)
             |  ELSE NULL END AS acf
             |FROM ag, dn ORDER BY lag""".stripMargin)),

    // Ljung-Box portmanteau over q92's lags (shared ACF derivation):
    // LB = n(n+2)Σ r²/(n−k) — ONE whiteness number closing the
    // series family; per-lag terms micro-quantize before the
    // cross-lag sum.
    "q99_ljung_box" -> Q(
      (s, dir) => graft.pipeline.Eval.ljungBox(
        rawEvents(s, dir).filter(col("value").isNotNull &&
          !isnan(col("value"))),
        round(col("value") * 1e6).cast("long"),
        expr("(ts div 1000) div 3600000000"), maxLag = 8),
      Some(s"""WITH $duckAcfCtes,
             |$duckLbTail
             |SELECT nb.n AS n_buckets,
             |  (SELECT CAST(count(*) AS BIGINT) FROM tm) AS n_lags,
             |  (SELECT CAST(coalesce(sum(term), 0) AS BIGINT)
             |   FROM tm) AS lb_micro
             |FROM nb""".stripMargin)),

    // The WHOLE series family from ONE corpus aggregation — the
    // dashboard query a production monitor actually runs: CUSUM
    // localization, Mann-Kendall trend, runs randomness, ACF lag-1,
    // Ljung-Box whiteness, and EWMA MASE, every stat bit-equal to
    // its standalone entry because each check rides the SAME shared
    // FromMeans body over the one collapsed (bucket, count, sum)
    // frame (the q78/q79 shared-scan argument applied to the series
    // family).
    "q101_series_panel" -> Q(
      (s, dir) => graft.pipeline.Eval.seriesPanel(
        rawEvents(s, dir).filter(col("value").isNotNull &&
          !isnan(col("value"))),
        round(col("value") * 1e6).cast("long"),
        expr("(ts div 1000) div 3600000000"),
        maxLag = 8, window = 16),
      Some(s"""WITH $duckSeriesCtes,
             |$duckAcfTail,
             |$duckLbTail,
             |$duckEwmaTail,
             |pcw AS (SELECT x, sum(c) OVER (ORDER BY x) AS cc,
             |    sum(s) OVER (ORDER BY x) AS cs,
             |    sum(c) OVER () AS tc, sum(s) OVER () AS ts_
             |  FROM bb),
             |pdd AS (SELECT x, tc * cs - ts_ * cc AS d FROM pcw),
             |pcp AS (SELECT CAST(x AS DOUBLE) AS stat FROM pdd
             |  ORDER BY abs(d) DESC, x ASC LIMIT 1),
             |mpr AS (SELECT CASE WHEN b2.m > a2.m THEN 1
             |    WHEN b2.m < a2.m THEN -1 ELSE 0 END AS sgn
             |  FROM mm a2 JOIN mm b2 ON a2.x < b2.x),
             |msg AS (SELECT CAST(coalesce(sum(sgn), 0) AS BIGINT)
             |    AS s_stat FROM mpr),
             |mtg AS (SELECT CAST(coalesce(sum(t * (t - 1)
             |      * (2 * t + 5)), 0) AS BIGINT) AS tt
             |  FROM (SELECT CAST(count(*) AS BIGINT) AS t
             |        FROM mm GROUP BY m) z1),
             |mv8 AS (SELECT nb.n * (nb.n - 1) * (2 * nb.n + 5)
             |      - mtg.tt AS var18
             |  FROM nb, mtg),
             |mkz AS (SELECT CASE WHEN var18 > 0 THEN
             |    CASE WHEN s_stat > 0 THEN ROUND(
             |        CAST(s_stat - 1 AS DOUBLE)
             |          / sqrt(CAST(var18 AS DOUBLE) / 18.0), 6)
             |      WHEN s_stat < 0 THEN ROUND(
             |        CAST(s_stat + 1 AS DOUBLE)
             |          / sqrt(CAST(var18 AS DOUBLE) / 18.0), 6)
             |      ELSE 0.0 END
             |  ELSE NULL END AS stat FROM msg, mv8
             |  WHERE EXISTS (SELECT 1 FROM mm)),
             |rmd AS (SELECT m AS med FROM (
             |    SELECT m, row_number() OVER (ORDER BY m, x) AS rn,
             |      CAST(count(*) OVER () AS BIGINT) AS nb2 FROM mm)
             |    rz1
             |  WHERE rn = (nb2 + 1) // 2),
             |rfl AS (SELECT x,
             |    CASE WHEN m > med THEN 1 ELSE -1 END AS sgn
             |  FROM mm, rmd WHERE m <> med),
             |rfw AS (SELECT sgn,
             |    CASE WHEN lag(sgn) OVER (ORDER BY x) IS NULL
             |      OR lag(sgn) OVER (ORDER BY x) <> sgn
             |    THEN 1 ELSE 0 END AS nw FROM rfl),
             |rag AS (SELECT
             |    CAST(coalesce(sum(CASE WHEN sgn = 1 THEN 1 ELSE 0
             |      END), 0) AS BIGINT) AS n_pos,
             |    CAST(coalesce(sum(CASE WHEN sgn = -1 THEN 1 ELSE 0
             |      END), 0) AS BIGINT) AS n_neg,
             |    CAST(coalesce(sum(nw), 0) AS BIGINT) AS n_runs
             |  FROM rfw),
             |rz AS (SELECT CASE WHEN n_pos > 0 AND n_neg > 0
             |    AND 2.0 * n_pos * n_neg
             |      * (2 * n_pos * n_neg - n_pos - n_neg) > 0 THEN
             |    ROUND((CAST(n_runs AS DOUBLE)
             |      - (2.0 * n_pos * n_neg / (n_pos + n_neg) + 1.0))
             |      / sqrt(2.0 * n_pos * n_neg
             |        * (2 * n_pos * n_neg - n_pos - n_neg)
             |        / (CAST(n_pos + n_neg AS DOUBLE)
             |          * (n_pos + n_neg) * (n_pos + n_neg - 1))), 6)
             |  ELSE NULL END AS stat FROM rag
             |  WHERE EXISTS (SELECT 1 FROM mm)),
             |a1x AS (SELECT CASE WHEN den > 0 THEN
             |    ROUND(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6)
             |  ELSE NULL END AS stat
             |  FROM ag, dn WHERE lag = 1),
             |lbx AS (SELECT CAST((SELECT coalesce(sum(term), 0)
             |    FROM tm) AS DOUBLE) AS stat),
             |nvp AS (SELECT d FROM (SELECT abs(m - lag(m)
             |      OVER (ORDER BY x)) AS d FROM mm) z2
             |  WHERE d IS NOT NULL),
             |fap AS (SELECT CAST(count(*) AS BIGINT) AS nf,
             |    CAST(coalesce(sum(abs(m - forecast_micro)), 0)
             |      AS BIGINT) AS sf
             |  FROM ff),
             |nap AS (SELECT CAST(count(*) AS BIGINT) AS nn,
             |    CAST(coalesce(sum(d), 0) AS BIGINT) AS sn FROM nvp),
             |msx AS (SELECT CASE WHEN nf > 0 AND sn > 0 THEN
             |    ROUND(CAST(sf AS DOUBLE) * nn
             |      / (CAST(sn AS DOUBLE) * nf), 6)
             |  ELSE NULL END AS stat FROM fap, nap)
             |SELECT 'cusum_cp_bucket' AS "check", stat FROM pcp
             |UNION ALL SELECT 'mann_kendall_z', stat FROM mkz
             |UNION ALL SELECT 'runs_z', stat FROM rz
             |UNION ALL SELECT 'acf_lag1', stat FROM a1x
             |UNION ALL SELECT 'ljung_box_micro', stat FROM lbx
             |UNION ALL SELECT 'ewma_mase', stat FROM msx
             |ORDER BY "check"""".stripMargin)),

    // KMV sketch SET ALGEBRA (Beyer et al. 2007): union/intersection
    // cardinality of viewers vs purchasers from the two k=64 sketches
    // ALONE — the compositional question ("how many users did BOTH")
    // answered without re-scanning keys, with the exact cardinalities
    // riding beside as the self-audit. K(A∪B) = k smallest of
    // K(A)∪K(B); jaccard = fraction of it in both sketches.
    "q93_kmv_setops" -> Q(
      (s, dir) => graft.pipeline.Eval.kmvSetOps(
        rawEvents(s, dir), col("user_id"),
        col("event_type") === "view",
        col("event_type") === "purchase", k = 64),
      Some(s"""WITH tg AS (SELECT CAST(user_id AS VARCHAR) AS u,
             |    event_type = 'view' AS a,
             |    event_type = 'purchase' AS b
             |  FROM events
             |  WHERE user_id IS NOT NULL
             |    AND event_type IN ('view', 'purchase')),
             |ha AS (SELECT DISTINCT ${duckHash60("u")} AS h
             |  FROM tg WHERE a),
             |hb AS (SELECT DISTINCT ${duckHash60("u")} AS h
             |  FROM tg WHERE b),
             |ka AS (SELECT h FROM ha ORDER BY h LIMIT 64),
             |kb AS (SELECT h FROM hb ORDER BY h LIMIT 64),
             |mg AS (SELECT DISTINCT h FROM (SELECT h FROM ka
             |    UNION ALL SELECT h FROM kb) u2
             |  ORDER BY h LIMIT 64),
             |st AS (SELECT CAST(count(*) AS BIGINT) AS nm,
             |    max(h) AS hk,
             |    CAST(coalesce(sum(CASE WHEN h IN (SELECT h FROM ka)
             |      AND h IN (SELECT h FROM kb) THEN 1 ELSE 0 END), 0)
             |      AS BIGINT) AS ni
             |  FROM mg),
             |es AS (SELECT nm, ni,
             |    CASE WHEN nm < 64 THEN CAST(nm AS DOUBLE)
             |    ELSE 63.0 * CAST(1152921504606846976 AS DOUBLE)
             |      / CAST(hk AS DOUBLE) END AS eu
             |  FROM st),
             |ex AS (SELECT CAST(coalesce(sum(ha2), 0) AS BIGINT)
             |      AS n_a,
             |    CAST(coalesce(sum(hb2), 0) AS BIGINT) AS n_b,
             |    CAST(count(*) AS BIGINT) AS exact_union,
             |    CAST(coalesce(sum(ha2 * hb2), 0) AS BIGINT)
             |      AS exact_inter
             |  FROM (SELECT u,
             |      max(CASE WHEN a THEN 1 ELSE 0 END) AS ha2,
             |      max(CASE WHEN b THEN 1 ELSE 0 END) AS hb2
             |    FROM tg GROUP BY u) bu)
             |SELECT ex.n_a, ex.n_b, ex.exact_union, ex.exact_inter,
             |  ROUND(es.eu, 6) AS est_union,
             |  CASE WHEN es.nm > 0 THEN
             |    ROUND(CAST(es.ni AS DOUBLE) / es.nm * es.eu, 6)
             |  ELSE 0.0 END AS est_inter
             |FROM ex, es""".stripMargin)),

    // EWMA one-step forecast (α=1/2, window 16) over the hourly mean
    // series — the online smoother with EXACT arithmetic: power-of-2
    // weights over the present past buckets, one mirrored round
    // division per bucket; resid = m − forecast is the with-memory
    // anomaly signal next to q38's memoryless z-buckets. Gap-aware
    // like q92 (a missing hour renormalizes, never bridges).
    "q94_ewma_forecast" -> Q(
      (s, dir) => graft.pipeline.Eval.ewmaForecast(
        rawEvents(s, dir).filter(col("value").isNotNull &&
          !isnan(col("value"))),
        round(col("value") * 1e6).cast("long"),
        expr("(ts div 1000) div 3600000000"), window = 16),
      Some(duckEwmaSql)),

    // Batch REPLAY of the streaming EWMA monitor: the q81 fold (the
    // ONE shared per-bucket (count,sum) state of the whole series
    // family) with q94's forecast report per micro-batch; after the
    // last batch the report must equal the one-shot q94 over all
    // rows — its oracle, VERBATIM (the bucket-mean series is a pure
    // function of the folded state).
    "q100_ewma_stream_replay" -> Q(
      (s, dir) => {
        val ev = rawEvents(s, dir).filter(col("value").isNotNull &&
          !isnan(col("value")))
        graft.streaming.Monitor.replay(
          (0 until 3).map(b =>
            ev.filter(pmod(col("event_id"), lit(3L)) === b)),
          Map.empty: graft.pipeline.Eval.BucketSums)(
          graft.pipeline.Eval.ewmaBatchUpdate(_,
            round(col("value") * 1e6).cast("long"),
            expr("(ts div 1000) div 3600000000"), _,
            window = 16)).last
      },
      Some(duckEwmaSql)),

    // MASE (Hyndman & Koehler 2006) for the q94 EWMA monitor: mean
    // absolute EWMA residual over mean absolute one-step naive
    // difference — is the smoother beating "predict the previous
    // bucket" (MASE < 1)? Both numerators are exact integer sums;
    // MASE is one division of exact cross-products (no intermediate
    // mean rounding).
    "q97_forecast_mase" -> Q(
      (s, dir) => graft.pipeline.Eval.forecastMase(
        rawEvents(s, dir).filter(col("value").isNotNull &&
          !isnan(col("value"))),
        round(col("value") * 1e6).cast("long"),
        expr("(ts div 1000) div 3600000000"), window = 16),
      Some(s"""WITH $duckEwmaCtes,
             |nv AS (SELECT d FROM (SELECT abs(m - lag(m)
             |      OVER (ORDER BY x)) AS d FROM mm) z
             |  WHERE d IS NOT NULL),
             |fa AS (SELECT CAST(count(*) AS BIGINT) AS nf,
             |    CAST(coalesce(sum(abs(m - forecast_micro)), 0)
             |      AS BIGINT) AS sf
             |  FROM ff),
             |na AS (SELECT CAST(count(*) AS BIGINT) AS nn,
             |    CAST(coalesce(sum(d), 0) AS BIGINT) AS sn FROM nv)
             |SELECT fa.nf AS n_forecast, na.nn AS n_naive,
             |  CASE WHEN nf > 0 THEN
             |    CAST(round(CAST(sf AS DOUBLE) / nf) AS BIGINT)
             |  ELSE NULL END AS mae_f_micro,
             |  CASE WHEN nn > 0 THEN
             |    CAST(round(CAST(sn AS DOUBLE) / nn) AS BIGINT)
             |  ELSE NULL END AS mae_n_micro,
             |  CASE WHEN nf > 0 AND sn > 0 THEN
             |    ROUND(CAST(sf AS DOUBLE) * nn
             |      / (CAST(sn AS DOUBLE) * nf), 6)
             |  ELSE NULL END AS mase
             |FROM fa, na""".stripMargin)),

    // Paired bootstrap LM comparison (Koehn, EMNLP 2004): per-doc
    // delta = bigram LM score (d47) - unigram LM score (d28), both
    // integer micro log10/token under the SAME corpus model, then 64
    // deterministic Poisson-bootstrap replicates of the mean delta
    // (d32's hash-CDF machinery). n_pos_rep counts replicates
    // favoring the bigram model; lo/hi are the exact 2.5%/97.5%
    // order statistics of the replicate means. q74 tests paired
    // LABELS; this tests paired continuous METRICS — together the
    // paired-comparison family is complete.
    "q85_paired_bootstrap" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val uni = TextStats.unigramLogProb(docs, "doc_id", "text")
          .select(col("id"), col("score_micro").as("su"))
        val bi = TextStats.bigramLogProb(docs, "doc_id", "text")
          .select(col("id"), col("score_micro").as("sb"))
        graft.pipeline.Eval.pairedBootstrap(
          uni.join(bi, "id")
            .select(col("id"), (col("sb") - col("su")).as("d")),
          col("id"), col("d"), replicates = 64)
      },
      Some(s"""WITH t2 AS (SELECT doc_id,
             |    unnest(str_split(text, ' ')) AS tok FROM documents),
             |f2 AS (SELECT tok, count(*) AS cnt FROM t2 GROUP BY tok),
             |n2 AS (SELECT CAST(ROUND(log10(SUM(cnt)) * 1e6)
             |    AS BIGINT) AS lln FROM f2),
             |d2 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS ntok,
             |    CAST(SUM(CAST(ROUND(log10(cnt) * 1e6) AS BIGINT))
             |      AS BIGINT) AS sll
             |  FROM t2 JOIN f2 USING (tok) GROUP BY doc_id),
             |us AS (SELECT doc_id, CAST(TRUNC(CAST(sll - ntok * lln
             |    AS DOUBLE) / ntok) AS BIGINT) AS su FROM d2, n2),
             |nn2 AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM f2),
             |bg0 AS (SELECT doc_id, unnest(list_transform(
             |    generate_series(1, greatest(len(toks) - 1, 0)),
             |    i -> toks[i] || ' ' || toks[i+1])) AS bg
             |  FROM (SELECT doc_id, str_split(text, ' ') AS toks
             |        FROM documents) dd),
             |bf2 AS (SELECT bg, CAST(count(*) AS BIGINT) AS c2
             |  FROM bg0 GROUP BY bg),
             |bs AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nbg,
             |    CAST(sum(CAST(ROUND(1e6 * log10(0.75 * c2 / u1.cnt
             |      + 0.25 * u2.cnt / nn2.n)) AS BIGINT)) AS BIGINT)
             |      AS sllb
             |  FROM bg0 JOIN bf2 USING (bg)
             |  JOIN f2 u1 ON u1.tok = str_split(bg0.bg, ' ')[1]
             |  JOIN f2 u2 ON u2.tok = str_split(bg0.bg, ' ')[2]
             |  CROSS JOIN nn2 GROUP BY doc_id),
             |bsc AS (SELECT doc_id, CAST(TRUNC(CAST(sllb AS DOUBLE)
             |    / nbg) AS BIGINT) AS sb FROM bs),
             |de AS (SELECT us.doc_id, sb - su AS d
             |  FROM us JOIN bsc USING (doc_id)),
             |rr AS (SELECT doc_id, d, g.b
             |  FROM de, generate_series(0, 63) AS g(b)),
             |uu AS (SELECT doc_id, d, b,
             |    (${duckHash60(
                    "CAST(doc_id AS VARCHAR) || '|' || " +
                    "CAST(b AS VARCHAR)")}) % 1000000 AS h
             |  FROM rr),
             |ww AS (SELECT b, d,
             |    (CASE WHEN h >= 367879 THEN 1 ELSE 0 END +
             |     CASE WHEN h >= 735758 THEN 1 ELSE 0 END +
             |     CASE WHEN h >= 919698 THEN 1 ELSE 0 END +
             |     CASE WHEN h >= 981011 THEN 1 ELSE 0 END +
             |     CASE WHEN h >= 996340 THEN 1 ELSE 0 END +
             |     CASE WHEN h >= 999405 THEN 1 ELSE 0 END) AS wt
             |  FROM uu),
             |rm0 AS (SELECT b, CAST(sum(wt) AS BIGINT) AS ne,
             |    CAST(sum(CAST(wt AS HUGEINT) * d) AS HUGEINT) AS sd
             |  FROM ww GROUP BY b),
             |rm AS (SELECT b, CAST(round(CAST(sd AS DOUBLE)
             |    / CAST(ne AS DOUBLE)) AS BIGINT) AS rm
             |  FROM rm0 WHERE ne > 0),
             |st AS (SELECT CAST(count(*) AS BIGINT) AS n_rep,
             |    CAST(coalesce(sum(CASE WHEN rm > 0 THEN 1 ELSE 0
             |      END), 0) AS BIGINT) AS n_pos_rep FROM rm),
             |rk AS (SELECT rm, row_number() OVER (ORDER BY rm, b)
             |    AS rn, count(*) OVER () AS nr FROM rm),
             |lo AS (SELECT rm AS lo_micro FROM rk
             |  WHERE rn = (nr * 25 + 999) // 1000),
             |hi AS (SELECT rm AS hi_micro FROM rk
             |  WHERE rn = nr + 1 - ((nr * 25 + 999) // 1000)),
             |ba AS (SELECT CAST(count(*) AS BIGINT) AS n_items,
             |    CAST(round(CAST(coalesce(sum(CAST(d AS HUGEINT)), 0)
             |      AS DOUBLE) / count(*)) AS BIGINT)
             |      AS mean_delta_micro
             |  FROM de HAVING count(*) > 0)
             |SELECT n_items, mean_delta_micro, n_rep, n_pos_rep,
             |  lo_micro, hi_micro
             |FROM ba, st, lo, hi""".stripMargin)),

    // Batch REPLAY of the streaming CUSUM monitor (the q56/q66
    // convention): three deterministic batches fold their bucket
    // counts into the standing state — bounded, one (count, sum)
    // entry per time bucket; the merge is associative+commutative —
    // and the final report must equal the ONE-SHOT q80 over all rows
    // (its oracle, verbatim). The sink body IS cusumBatchUpdate.
    "q81_cusum_stream_replay" -> Q(
      (s, dir) => {
        val ev = rawEvents(s, dir).filter(col("value").isNotNull &&
          !isnan(col("value")))
        graft.streaming.Monitor.replay(
          (0 until 3).map(b =>
            ev.filter(pmod(col("event_id"), lit(3L)) === b)),
          Map.empty: graft.pipeline.Eval.BucketSums)(
          graft.pipeline.Eval.cusumBatchUpdate(_,
            round(col("value") * 1e6).cast("long"),
            expr("(ts div 1000) div 3600000000"), _)).last
      },
      Some(duckCusumSql)),

    // W1 against a PINNED REFERENCE (the q49 convention): the batch
    // operator w1DriftStream's per-batch body runs per micro-batch,
    // oracle-checked outside the streaming harness. Completes the
    // drift-monitor symmetry — KS, PSI, exact-quantile, and now W1
    // all have batch + reference-stream forms.
    "q69_w1_reference" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val refC = graft.pipeline.Eval.referenceValueCounts(
          docs.filter(col("source") =!= "src0"),
          col("n_chars").cast("long"))
        graft.pipeline.Eval.w1AgainstReference(
          docs.filter(col("source") === "src0"), refC, col("n_chars"))
      },
      Some(s"""WITH $duckRefCountsCtes,
             |$duckW1Tail""".stripMargin)),

    // DeLong's test comparing two quality signals' ROC-AUCs on the
    // SAME labeled rows (paired structural-component covariance —
    // independent-variance z would be wrong here): "is signal A
    // actually better than signal B, or is the AUC gap noise?" All
    // tie-aware integer components (W = 2·#less + #eq from
    // value-distinct tables, the rocAuc shape), exact decimal
    // co-moments, then a FIXED final IEEE op order mirrored token for
    // token in the oracle.
    "q63_delong_auc" -> Q(
      (s, dir) => graft.pipeline.Eval.delongAucCompare(
        table(s, dir, "documents").filter(col("lang").isNotNull),
        TextStats.tokenCount(col("text")),
        TextStats.distinctTokenCount(col("text")),
        col("lang") === "en"),
      Some("""WITH d AS (SELECT
             |    CAST(len(str_split(text, ' ')) AS DOUBLE) AS s1,
             |    CAST(len(list_distinct(str_split(text, ' ')))
             |      AS DOUBLE) AS s2,
             |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
             |  FROM documents
             |  WHERE lang IS NOT NULL AND text IS NOT NULL),
             |mn AS (SELECT CAST(coalesce(sum(y), 0) AS BIGINT) AS m,
             |    CAST(count(*) - coalesce(sum(y), 0) AS BIGINT) AS n
             |  FROM d),
             |g1 AS (SELECT s1 AS v, CAST(sum(y) AS HUGEINT) AS pos,
             |    CAST(count(*) - sum(y) AS HUGEINT) AS neg
             |  FROM d GROUP BY s1),
             |w1 AS (SELECT v,
             |    2 * sum(neg) OVER (ORDER BY v) - neg AS w10,
             |    2 * ((SELECT m FROM mn) - sum(pos) OVER (ORDER BY v))
             |      + pos AS w01
             |  FROM g1),
             |g2 AS (SELECT s2 AS v, CAST(sum(y) AS HUGEINT) AS pos,
             |    CAST(count(*) - sum(y) AS HUGEINT) AS neg
             |  FROM d GROUP BY s2),
             |w2 AS (SELECT v,
             |    2 * sum(neg) OVER (ORDER BY v) - neg AS w10,
             |    2 * ((SELECT m FROM mn) - sum(pos) OVER (ORDER BY v))
             |      + pos AS w01
             |  FROM g2),
             |pa AS (SELECT sum(a.w10) AS sa1, sum(b.w10) AS sa2,
             |    sum(a.w10 * a.w10) AS saa, sum(b.w10 * b.w10) AS sbb,
             |    sum(a.w10 * b.w10) AS sab
             |  FROM d JOIN w1 a ON a.v = d.s1
             |         JOIN w2 b ON b.v = d.s2
             |  WHERE d.y = 1),
             |na AS (SELECT sum(a.w01) AS ta1, sum(b.w01) AS ta2,
             |    sum(a.w01 * a.w01) AS taa, sum(b.w01 * b.w01) AS tbb,
             |    sum(a.w01 * b.w01) AS tib
             |  FROM d JOIN w1 a ON a.v = d.s1
             |         JOIN w2 b ON b.v = d.s2
             |  WHERE d.y = 0),
             |vv AS (SELECT m, n,
             |    CAST(sa1 AS DOUBLE) / (2.0 * m * n) AS auc1,
             |    CAST(sa2 AS DOUBLE) / (2.0 * m * n) AS auc2,
             |    CAST(sa1 - sa2 AS DOUBLE) / (2.0 * m * n) AS delta,
             |    (CAST(CAST(m AS HUGEINT) * saa - sa1 * sa1 AS DOUBLE)
             |       / (CAST(m AS DOUBLE) * (m - 1)
             |          * (2.0 * n) * (2.0 * n))
             |     + CAST(CAST(m AS HUGEINT) * sbb - sa2 * sa2
             |         AS DOUBLE)
             |       / (CAST(m AS DOUBLE) * (m - 1)
             |          * (2.0 * n) * (2.0 * n))
             |     - 2.0 * (CAST(CAST(m AS HUGEINT) * sab - sa1 * sa2
             |         AS DOUBLE)
             |       / (CAST(m AS DOUBLE) * (m - 1)
             |          * (2.0 * n) * (2.0 * n)))) / m
             |    + (CAST(CAST(n AS HUGEINT) * taa - ta1 * ta1
             |          AS DOUBLE)
             |       / (CAST(n AS DOUBLE) * (n - 1)
             |          * (2.0 * m) * (2.0 * m))
             |     + CAST(CAST(n AS HUGEINT) * tbb - ta2 * ta2
             |         AS DOUBLE)
             |       / (CAST(n AS DOUBLE) * (n - 1)
             |          * (2.0 * m) * (2.0 * m))
             |     - 2.0 * (CAST(CAST(n AS HUGEINT) * tib - ta1 * ta2
             |         AS DOUBLE)
             |       / (CAST(n AS DOUBLE) * (n - 1)
             |          * (2.0 * m) * (2.0 * m)))) / n AS vr
             |  FROM mn, pa, na)
             |SELECT m AS n_pos, n AS n_neg,
             |  ROUND(auc1, 6) AS auc1, ROUND(auc2, 6) AS auc2,
             |  ROUND(delta, 6) AS delta_auc,
             |  CASE WHEN m >= 2 AND n >= 2 AND vr > 0
             |    THEN ROUND(delta / sqrt(vr), 6) ELSE NULL END AS z
             |FROM vv""".stripMargin)),

    // Per-group exact weighted MAD — groupedWeightedQuantile composed
    // TWICE (per-group medians in shared scans, G-row median table
    // broadcast back, per-group median of |x − m_g| the same way):
    // the robust dispersion behind per-group quality monitoring,
    // 2× one grouped selection's scans regardless of G. The oracle
    // replays both crossings partitioned by group; the deviation k
    // equals the value k (same total weight per group).
    "q57_group_mad" -> Q(
      (s, dir) => graft.ops.DistributedSelect.groupedMad(
        lineitem(s, dir), "l_returnflag", "l_extendedprice",
        "l_quantity", buckets = 32, threshold = 500),
      Some(s"""WITH s AS (SELECT l_returnflag AS grp,
             |    CAST(l_extendedprice AS DOUBLE) AS v,
             |    CAST(l_quantity AS BIGINT) AS w FROM lineitem),
             |$duckGroupedCumWeightCtes FROM s),
             |m AS (SELECT kx.grp,
             |    (SELECT min(v) FROM c
             |     WHERE c.grp = kx.grp AND c.cw >= kx.k) AS med,
             |    wt, k FROM kx),
             |d AS (SELECT s.grp, abs(s.v - m.med) AS dv, s.w
             |  FROM s JOIN m ON m.grp = s.grp),
             |c2 AS (SELECT grp, dv, CAST(sum(w) OVER (
             |    PARTITION BY grp ORDER BY dv
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |    AS BIGINT) AS cw FROM d)
             |SELECT m.grp AS l_returnflag, m.med AS median,
             |  (SELECT min(dv) FROM c2
             |   WHERE c2.grp = m.grp AND c2.cw >= m.k) AS mad,
             |  wt AS w_total
             |FROM m ORDER BY l_returnflag""".stripMargin)),

    // Exact median absolute deviation — the robust dispersion a
    // quality monitor scales by (stddev is wrecked by one huge
    // outlier; MAD is not): two exact selections (median, then median
    // of |x − m|) composed from the q47 narrowing operator —
    // 2·log_B(n) pushable scans, no global sort, nothing data-sized
    // on the driver. Deviations are IEEE |x − m| with the identical
    // double m in both engines, so both medians are engine-exact
    // order statistics with no summation order anywhere.
    "q54_mad" -> Q(
      (s, dir) => graft.ops.DistributedSelect.madFrame(
        lineitem(s, dir), "l_extendedprice", buckets = 32,
        threshold = 500),
      Some("""WITH s AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v
             |  FROM lineitem),
             |t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s),
             |kx AS (SELECT n, greatest(CAST(1 AS BIGINT),
             |    CAST(ceil(CAST(0.5 AS DOUBLE) * n) AS BIGINT)) AS k
             |  FROM t),
             |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn
             |  FROM s),
             |med AS (SELECT r.v AS m FROM r, kx WHERE r.rn = kx.k),
             |d AS (SELECT abs(s.v - med.m) AS dv FROM s, med),
             |r2 AS (SELECT dv, row_number() OVER (ORDER BY dv) AS rn
             |  FROM d)
             |SELECT med.m AS median,
             |  (SELECT r2.dv FROM r2, kx WHERE r2.rn = kx.k) AS mad,
             |  kx.n
             |FROM med, kx""".stripMargin)),

    // Exact winsorized mean: clamp to the exact [⌈.05n⌉-th, ⌈.95n⌉-th]
    // order statistics (two more q47 selections), then average with
    // per-value micro-quantization before the sum (order-free) and ONE
    // integer floor division at the end — the outlier-robust location
    // estimate a corpus dashboard trends.
    "q55_winsorized_mean" -> Q(
      (s, dir) => graft.ops.DistributedSelect.winsorizedMeanMicro(
        lineitem(s, dir), "l_extendedprice", qLo = 0.05, qHi = 0.95,
        buckets = 32, threshold = 500),
      Some("""WITH s AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v
             |  FROM lineitem),
             |t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s),
             |kx AS (SELECT n,
             |    greatest(CAST(1 AS BIGINT), CAST(ceil(
             |      CAST(0.05 AS DOUBLE) * n) AS BIGINT)) AS klo,
             |    greatest(CAST(1 AS BIGINT), CAST(ceil(
             |      CAST(0.95 AS DOUBLE) * n) AS BIGINT)) AS khi
             |  FROM t),
             |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn
             |  FROM s),
             |b AS (SELECT
             |    (SELECT r.v FROM r, kx WHERE r.rn = kx.klo) AS lo,
             |    (SELECT r.v FROM r, kx WHERE r.rn = kx.khi) AS hi)
             |SELECT b.lo AS lo_value, b.hi AS hi_value, kx.n,
             |  (SELECT CAST(sum(CAST(round(least(greatest(s.v, b.lo),
             |        b.hi) * 1000000) AS BIGINT)) AS BIGINT) // kx.n
             |   FROM s) AS wmean_micro
             |FROM b, kx""".stripMargin)),

    // Kendall tau-b agreement between the lexical (BM25) and semantic
    // (cosine) scorings of the BM25 top-50 candidate list — do the two
    // rankers ORDER the shared candidates the same way? Tie-aware
    // (scores round to 6 decimals and tie freely); integer concordant/
    // discordant/tie counts until the single final division. The pair
    // enumeration is a single-bucket BroadcastHashJoin over the
    // LIST-SIZED frame (50 rows → 1225 pairs), never a corpus join.
    "q48_kendall_tau" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val emb = table(s, dir, "embeddings")
        val q = vec0(emb)
        val lex = Retrieval.bm25TopK(docs, "doc_id", "text",
            Seq("vector", "hash", "merge"), k = 50)
          .select(col("id"), col("bm25").as("score"))
        val sem = emb.select(col("vec_id").as("id"),
          round(Similarity.cosine(
            Similarity.toDouble(col("embedding")), typedlit(q)), 6)
            .as("score"))
        graft.pipeline.Eval.kendallTauBMicro(lex, sem)
      },
      Some(s"""WITH $duckBm25Ctes,
             |sc AS (SELECT p.id,
             |    ROUND(sum(i.idf * p.tf * 2.2
             |      / (p.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / i.avgdl))),
             |      6) AS s
             |  FROM p JOIN i USING (term) JOIN l ON l.id = p.id
             |  GROUP BY p.id),
             |lex AS (SELECT id, s FROM sc
             |  ORDER BY s DESC, id ASC LIMIT 50),
             |$duckQ0CosineCtes,
             |j AS (SELECT lex.id, lex.s AS sa, cs.c AS sb
             |  FROM lex JOIN cs USING (id)),
             |pr AS (SELECT a.sa AS a1, a.sb AS b1, b.sa AS a2,
             |    b.sb AS b2
             |  FROM j a JOIN j b ON a.id < b.id),
             |cmp AS (SELECT
             |    CASE WHEN a1 < a2 THEN -1 WHEN a1 > a2 THEN 1
             |      ELSE 0 END AS ca,
             |    CASE WHEN b1 < b2 THEN -1 WHEN b1 > b2 THEN 1
             |      ELSE 0 END AS cb
             |  FROM pr),
             |agg AS (SELECT
             |    CAST(sum(CASE WHEN ca * cb > 0 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS nc,
             |    CAST(sum(CASE WHEN ca * cb < 0 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS nd,
             |    CAST(sum(CASE WHEN ca = 0 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS ta,
             |    CAST(sum(CASE WHEN cb = 0 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS tb,
             |    CAST(count(*) AS BIGINT) AS n0
             |  FROM cmp),
             |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM j)
             |SELECT CASE WHEN n0 > ta AND n0 > tb THEN
             |    CAST(ROUND(1e6 * (nc - nd)
             |      / sqrt(CAST(n0 - ta AS DOUBLE)
             |        * CAST(n0 - tb AS DOUBLE))) AS BIGINT)
             |  END AS tau_micro, n, nc AS concordant, nd AS discordant
             |FROM agg, nn""".stripMargin)),

    // Proportional stride-scheduled mixture order: every source
    // appears in the global training order interleaved in proportion
    // to its size (source s's r-th doc at virtual time r/w_s), so
    // EVERY prefix of the schedule is the corpus mixture — the
    // property d20's mixture report can only measure after the fact.
    // Within-source order is the portable md5 shuffle (trainOrder);
    // per-source ranks come from the distributed bucketed rank, and
    // vt quantizes by integer floor division — no float tie ambiguity.
    "d46_stride_mixture" -> Q(
      (s, dir) => Curation.strideMixtureOrder(
          table(s, dir, "documents"), "doc_id", "source")
        .select("doc_id", "source", "vt_micro")
        .orderBy("vt_micro", "source", "doc_id").limit(500),
      Some(s"""WITH h AS (SELECT doc_id, source,
              |    ${duckHash60("CAST(doc_id AS VARCHAR)")} AS h
              |  FROM documents),
              |r AS (SELECT doc_id, source,
              |    CAST(row_number() OVER (PARTITION BY source
              |      ORDER BY h, doc_id) AS BIGINT) AS rs,
              |    CAST(count(*) OVER (PARTITION BY source)
              |      AS BIGINT) AS w
              |  FROM h)
              |SELECT doc_id, source, (rs * 1000000) // w AS vt_micro
              |FROM r ORDER BY vt_micro, source, doc_id
              |LIMIT 500""".stripMargin)),

    // Interpolated BIGRAM LM fluency score — the next-order signal
    // d28's unigram model can't see (unigrams score shuffled text
    // identically): per-doc mean log10 of the Jelinek-Mercer
    // 0.75·c2/c1(w1) + 0.25·c1(w2)/N with corpus-level counts.
    // Per-bigram terms micro-quantize before the sum; the expression
    // shape (op order) is mirrored literally in the oracle so the
    // IEEE doubles agree bit-for-bit. Count tables shuffle on their
    // own n-gram keys (never broadcast); N is the 1-row driver-side
    // parameter literal.
    "d47_bigram_logprob" -> Q(
      (s, dir) => TextStats.bigramLogProb(
          table(s, dir, "documents"), "doc_id", "text")
        .select(col("id").as("doc_id"), col("nbg"),
          col("sum_ll_micro"), col("score_micro"))
        .orderBy("doc_id").limit(2000),
      Some("""WITH t AS (SELECT doc_id, unnest(str_split(text, ' '))
             |    AS tok FROM documents),
             |u AS (SELECT tok, CAST(count(*) AS BIGINT) AS c1
             |  FROM t GROUP BY tok),
             |n AS (SELECT CAST(sum(c1) AS BIGINT) AS n FROM u),
             |b AS (SELECT doc_id, unnest(list_transform(
             |    generate_series(1, greatest(len(toks) - 1, 0)),
             |    i -> toks[i] || ' ' || toks[i+1])) AS bg
             |  FROM (SELECT doc_id, str_split(text, ' ') AS toks
             |        FROM documents) d),
             |bf AS (SELECT bg, CAST(count(*) AS BIGINT) AS c2
             |  FROM b GROUP BY bg),
             |sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nbg,
             |    CAST(sum(CAST(ROUND(1e6 * log10(0.75 * c2 / u1.c1
             |      + 0.25 * u2.c1 / n.n)) AS BIGINT)) AS BIGINT)
             |      AS sum_ll_micro
             |  FROM b JOIN bf USING (bg)
             |  JOIN u u1 ON u1.tok = str_split(b.bg, ' ')[1]
             |  JOIN u u2 ON u2.tok = str_split(b.bg, ' ')[2]
             |  CROSS JOIN n GROUP BY doc_id)
             |SELECT doc_id, nbg, sum_ll_micro,
             |  CAST(TRUNC(CAST(sum_ll_micro AS DOUBLE) / nbg)
             |    AS BIGINT) AS score_micro
             |FROM sc ORDER BY doc_id LIMIT 2000""".stripMargin)),

    // HOLDOUT bigram-LM scoring — the d59 split discipline applied to
    // the d47 LM: the interpolated model (counts, vocab, total) sees
    // only the 80% train buckets; the 20% holdout scores against it
    // with an in-branch-guarded bigram term and an add-1 unigram
    // back-off (every holdout event finite), reporting the unseen-
    // bigram mass next to the score. Completes the LM family's
    // evaluation loop exactly as d59 completed the classifier's.
    "d67_bigram_holdout" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val bucket = pmod(
          Dedup.md5Long60(col("doc_id").cast("string")), lit(5L))
        TextStats.bigramHoldoutLogProb(
            docs.filter(bucket =!= 0L), docs.filter(bucket === 0L),
            "doc_id", "text")
          .select(col("id").as("doc_id"), col("nbg"),
            col("n_unseen"), col("sum_ll_micro"), col("score_micro"))
          .orderBy("doc_id").limit(2000)
      },
      Some(s"""WITH sp AS (SELECT doc_id, text,
             |    ${duckHash60("CAST(doc_id AS VARCHAR)")} % 5 AS bk
             |  FROM documents),
             |tr AS (SELECT doc_id, text FROM sp WHERE bk <> 0),
             |te AS (SELECT doc_id, text FROM sp WHERE bk = 0),
             |t AS (SELECT unnest(str_split(text, ' ')) AS tok
             |  FROM tr),
             |u AS (SELECT tok, CAST(count(*) AS BIGINT) AS c1
             |  FROM t GROUP BY tok),
             |nv AS (SELECT CAST(coalesce(sum(c1), 0) AS BIGINT) AS n,
             |    CAST(count(*) AS BIGINT) AS v FROM u),
             |btr AS (SELECT unnest(list_transform(
             |    generate_series(1, greatest(len(toks) - 1, 0)),
             |    i -> toks[i] || ' ' || toks[i+1])) AS bg
             |  FROM (SELECT str_split(text, ' ') AS toks FROM tr) d),
             |bf AS (SELECT bg, CAST(count(*) AS BIGINT) AS c2
             |  FROM btr GROUP BY bg),
             |b AS (SELECT doc_id, unnest(list_transform(
             |    generate_series(1, greatest(len(toks) - 1, 0)),
             |    i -> toks[i] || ' ' || toks[i+1])) AS bg
             |  FROM (SELECT doc_id, str_split(text, ' ') AS toks
             |        FROM te) d),
             |sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nbg,
             |    CAST(count(CASE WHEN bf.c2 IS NULL THEN 1 END)
             |      AS BIGINT) AS n_unseen,
             |    CAST(sum(CAST(ROUND(1e6 * log10(
             |      (CASE WHEN u1.c1 > 0
             |        THEN 0.75 * COALESCE(bf.c2, 0) / u1.c1
             |        ELSE 0 END)
             |      + 0.25 * (COALESCE(u2.c1, 0) + 1)
             |        / (nv.n + nv.v))) AS BIGINT)) AS BIGINT)
             |      AS sum_ll_micro
             |  FROM b LEFT JOIN bf USING (bg)
             |  LEFT JOIN u u1 ON u1.tok = str_split(b.bg, ' ')[1]
             |  LEFT JOIN u u2 ON u2.tok = str_split(b.bg, ' ')[2]
             |  CROSS JOIN nv GROUP BY doc_id)
             |SELECT doc_id, nbg, n_unseen, sum_ll_micro,
             |  CAST(TRUNC(CAST(sum_ll_micro AS DOUBLE) / nbg)
             |    AS BIGINT) AS score_micro
             |FROM sc ORDER BY doc_id LIMIT 2000""".stripMargin)),

    // Top bigram collocations by PMI (Church & Hanks 1990) with a
    // support floor — the corpus pass that surfaces multi-word units
    // a tokenizer should treat as one. The support filter lands on
    // the bigram-count frame BEFORE the unigram joins: it is both the
    // statistical fix (hapax pairs dominate raw PMI) and the
    // candidate bound (they dominate the Zipf tail's volume). Factors
    // cast to double BEFORE multiplying (long products overflow at
    // corpus scale); one ln, one round, mirrored shape both sides.
    "d52_pmi_collocations" -> Q(
      (s, dir) => TextStats.pmiCollocations(
        table(s, dir, "documents"), "doc_id", "text",
        minCount = 10, k = 300),
      Some("""WITH tk AS (SELECT str_split(text, ' ') AS toks
             |  FROM documents),
             |t AS (SELECT CAST(sum(len(toks)) AS BIGINT) AS nt,
             |    CAST(sum(greatest(len(toks) - 1, 0)) AS BIGINT) AS nb
             |  FROM tk),
             |u AS (SELECT ut.tok, CAST(count(*) AS BIGINT) AS c1
             |  FROM tk, unnest(toks) AS ut(tok) GROUP BY ut.tok),
             |bf AS (SELECT bg, CAST(count(*) AS BIGINT) AS c2
             |  FROM (SELECT unnest(list_transform(
             |      generate_series(1, greatest(len(toks) - 1, 0)),
             |      i -> toks[i] || ' ' || toks[i+1])) AS bg FROM tk) b
             |  GROUP BY bg HAVING count(*) >= 10)
             |SELECT bf.bg AS bigram, bf.c2 AS pair_count,
             |  u1.c1 AS w1_count, u2.c1 AS w2_count,
             |  CAST(round(1e6 * ln(
             |      (CAST(bf.c2 AS DOUBLE) * t.nt * t.nt)
             |      / (t.nb * CAST(u1.c1 AS DOUBLE)
             |         * CAST(u2.c1 AS DOUBLE)))) AS BIGINT)
             |    AS pmi_micro
             |FROM bf
             |JOIN u u1 ON u1.tok = str_split(bf.bg, ' ')[1]
             |JOIN u u2 ON u2.tok = str_split(bf.bg, ' ')[2]
             |CROSS JOIN t
             |ORDER BY pmi_micro DESC, bigram ASC
             |LIMIT 300""".stripMargin)),

    // k-core of the near-dup graph by 4 fixed peel rounds (the g1
    // fixed-iteration convention, so the loop replays as chained
    // CTEs): drop deg<2 vertices, restrict edges to survivors,
    // recompute, repeat. Chains and pendant quotes peel away;
    // template cliques stay — the density filter before cluster
    // mining. Per round: one map-side-combining degree count + two
    // vertex-keyed semi-joins; edges never grow.
    "g4_kcore" -> Q(
      (s, dir) => graft.pipeline.GraphOps.kCorePeel(
          dedupArtifacts(s, dir).pairs,
          "id_a", "id_b", k = 2, rounds = 4)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id").limit(2000),
      Some(s"""WITH ${duckLshVerifiedCtes("documents", 0.3)},
              |te AS (SELECT DISTINCT id_a AS lo, id_b AS hi
              |       FROM vpairs WHERE id_a < id_b),
              |${duckKCorePeelCtes(4)}
              |SELECT id AS doc_id, deg FROM d4 WHERE deg >= 2
              |ORDER BY doc_id LIMIT 2000""".stripMargin
        // force CTE materialization: each peel level references the
        // previous twice, so DuckDB's default inlining re-runs the
        // LSH chain O(2^rounds) times (measured: >15 min inlined,
        // 1.7 s materialized at sf0.01)
        .replace(" AS (", " AS MATERIALIZED ("))),

    // Label-propagation communities (Raghavan et al. 2007), 3
    // synchronous rounds with the deterministic (count desc, label
    // asc) mode rule — the community split connected components
    // cannot make: one spurious LSH pair fuses two template families
    // into one component, but one bridging edge never outvotes a
    // clique. Per round one edges⋈labels equi-join + two
    // map-side-combining aggregations (argmax as max of a
    // (count, −label) struct — no window); fixed rounds keep it
    // replayable as chained CTEs, materialized per the g4 house rule.
    "g5_label_propagation" -> Q(
      (s, dir) => graft.pipeline.GraphOps.labelPropagation(
          dedupArtifacts(s, dir).pairs, "id_a", "id_b", rounds = 3)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id").limit(2000),
      Some(s"""WITH ${duckLshVerifiedCtes("documents", 0.3)},
              |te AS (SELECT DISTINCT id_a AS lo, id_b AS hi
              |       FROM vpairs WHERE id_a < id_b),
              |ed AS (SELECT lo AS src, hi AS dst FROM te
              |       UNION ALL SELECT hi, lo FROM te),
              |${duckLpaCtes("")}
              |SELECT id AS doc_id, CAST(label AS BIGINT) AS label
              |FROM l3 ORDER BY doc_id LIMIT 2000""".stripMargin
        .replace(" AS (", " AS MATERIALIZED ("))),

    // Topic-ish WORD communities: label propagation over the PMI
    // collocation graph — the d52 → g5 composition across domains
    // (text statistics feeding graph clustering). Words become
    // 60-bit portable-hash node ids (deterministic, so the oracle
    // re-derives them; LPA's −label trick needs non-negative longs),
    // the top-300 collocations are the edges, and each word reports
    // its 3-round community label, joined back to the readable word.
    "g8_word_communities" -> Q(
      (s, dir) => {
        val (edges, words) = wordGraph(s, dir)
        graft.pipeline.GraphOps.labelPropagation(
            edges, "id_a", "id_b", rounds = 3)
          .join(words, "id")
          .select(col("word"), col("label"))
          .orderBy("word").limit(2000)
      },
      Some(s"""WITH $duckWordGraphCtes,
             |${duckLpaCtes("")}
             |SELECT wm.word, CAST(l3.label AS BIGINT) AS label
             |FROM l3 JOIN wm ON wm.id = l3.id
             |ORDER BY word LIMIT 2000""".stripMargin
        .replace(" AS (", " AS MATERIALIZED ("))),

    // TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004):
    // PageRank over the PMI collocation graph — the corpus's most
    // structurally central words, a better keyword list than raw
    // frequency (d13) because a word earns rank from the DIVERSITY of
    // strong collocations it anchors, not its count. Pure composition
    // of proven parts: d52's PMI edges (pinned once — the g8 lesson),
    // g1's integer micro PageRank, 3 unrolled oracle rounds. Edges
    // normalize to distinct unordered word pairs (self-collocations
    // drop) exactly as the oracle's te CTE does.
    "d60_textrank_keywords" -> Q(
      (s, dir) => {
        val pmi = TextStats.pmiCollocations(
          table(s, dir, "documents"), "doc_id", "text",
          minCount = 10, k = 300).localCheckpoint()
        val w1 = element_at(split(col("bigram"), " "), 1)
        val w2 = element_at(split(col("bigram"), " "), 2)
        val ha = Dedup.md5Long60(w1)
        val hb = Dedup.md5Long60(w2)
        val edges = pmi.select(least(ha, hb).as("id_a"),
            greatest(ha, hb).as("id_b"))
          .filter(col("id_a") =!= col("id_b")).distinct()
        val words = pmi
          .select(explode(array(w1, w2)).as("word")).distinct()
          .withColumn("id", Dedup.md5Long60(col("word")))
        graft.pipeline.GraphOps.pageRankMicro(
            edges, "id_a", "id_b", iterations = 3)
          .join(words, "id")
          .select(col("word"), col("rank_micro"))
          .orderBy(desc("rank_micro"), asc("word")).limit(100)
      },
      Some(s"""WITH $duckWordGraphCtes,
             |${duckPageRankCtes("ed")}
             |SELECT wm.word, gr3.r AS rank_micro
             |FROM gr3 JOIN wm ON wm.id = gr3.id
             |ORDER BY rank_micro DESC, word ASC
             |LIMIT 100""".stripMargin
        .replace(" AS (", " AS MATERIALIZED ("))),

    // Zipf rank–frequency slope of the top-1000 vocabulary — the
    // corpus-health audit run before trusting token statistics:
    // natural language sits near slope −1 on log rank vs log
    // frequency; boilerplate floods flatten it, spam inflates the
    // tail. d13's vocab (TakeOrdered, rank window over the k-row
    // post-agg frame — the d31 discipline), ln values quantized to
    // integer micro BEFORE the co-moments (d28), exact OLS slope
    // with ONE float division.
    "d61_zipf_slope" -> Q(
      (s, dir) => {
        val vocab = table(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("token"))
          .groupBy("token").agg(count(lit(1)).as("tf"))
          .orderBy(col("tf").desc, col("token").asc).limit(1000)
          .select(col("tf"), row_number().over(
              org.apache.spark.sql.expressions.Window
                .orderBy(col("tf").desc, col("token").asc))
            .cast("long").as("rk"))
        def dec(c: Column): Column = c.cast("decimal(38,0)")
        val z0 = lit(0L).cast("decimal(38,0)")
        vocab
          .select(
            round(lit(1e6) * log(col("rk").cast("double")))
              .cast("long").as("x"),
            round(lit(1e6) * log(col("tf").cast("double")))
              .cast("long").as("y"))
          .agg(
            count(lit(1)).cast("decimal(38,0)").as("n"),
            coalesce(sum(dec(col("x"))), z0).as("sx"),
            coalesce(sum(dec(col("y"))), z0).as("sy"),
            coalesce(sum(dec(col("x")) * dec(col("y"))), z0).as("sxy"),
            coalesce(sum(dec(col("x")) * dec(col("x"))), z0).as("sxx"))
          .select(col("n").cast("long").as("n_vocab"),
            round((col("n") * col("sxy") - col("sx") * col("sy"))
                .cast("double") /
              nullif((col("n") * col("sxx") - col("sx") * col("sx"))
                .cast("double"), lit(0.0d)),
              6).as("zipf_slope"))
      },
      Some("""WITH zv AS (SELECT ut.tok,
             |    CAST(count(*) AS BIGINT) AS tf
             |  FROM (SELECT str_split(text, ' ') AS toks
             |        FROM documents) tk,
             |    unnest(toks) AS ut(tok)
             |  GROUP BY ut.tok),
             |zr AS (SELECT tf, row_number() OVER (
             |      ORDER BY tf DESC, tok ASC) AS rk
             |  FROM zv ORDER BY tf DESC, tok ASC LIMIT 1000),
             |zm AS (SELECT
             |    CAST(round(1e6 * ln(CAST(rk AS DOUBLE))) AS HUGEINT)
             |      AS x,
             |    CAST(round(1e6 * ln(CAST(tf AS DOUBLE))) AS HUGEINT)
             |      AS y
             |  FROM zr),
             |za AS (SELECT CAST(count(*) AS HUGEINT) AS n,
             |    coalesce(sum(x), 0) AS sx, coalesce(sum(y), 0) AS sy,
             |    coalesce(sum(x * y), 0) AS sxy,
             |    coalesce(sum(x * x), 0) AS sxx
             |  FROM zm)
             |SELECT CAST(n AS BIGINT) AS n_vocab,
             |  ROUND(CAST(n * sxy - sx * sy AS DOUBLE) /
             |    nullif(CAST(n * sxx - sx * sx AS DOUBLE), 0.0), 6)
             |    AS zipf_slope
             |FROM za""".stripMargin)),

    // ExactSubstr span LOCALIZATION (Lee et al., ACL 2022): maximal
    // runs of cross-doc duplicated 13-grams as 1-based inclusive word
    // spans + the span text. Two dup starts p < q chain iff q <= p+13
    // (equal-length covering intervals overlap or touch). The oracle
    // replays gram -> min/max-doc dup test -> lag-gap islands ->
    // string surgery; Spark keys grams by xxhash64 (shuffle bytes),
    // the oracle by the string — exact agreement short of collision.
    "d62_span_excision" -> Q(
      (s, dir) => Dedup.dupSpans(
          table(s, dir, "documents"), "doc_id", "text", n = 13)
        .select(col("id").as("doc_id"), col("span_start"),
          col("span_end"), col("span_words"), col("span_text"))
        .orderBy("doc_id", "span_start").limit(5000),
      Some(s"""WITH $duckDupSpanCtes
             |SELECT s.doc_id, span_start, span_end,
             |  span_end - span_start + 1 AS span_words,
             |  array_to_string(toks[span_start:span_end], ' ')
             |    AS span_text
             |FROM spans s JOIN t USING (doc_id)
             |ORDER BY doc_id, span_start LIMIT 5000""".stripMargin)),

    // ExactSubstr span EXCISION — the string surgery over d62's spans:
    // every duplicated span removed, host document kept (empty string
    // when the whole doc is duplicated text — doc-level dedup
    // degenerating out of the span form). Spark's surgery is a
    // map-only positional array filter after ONE id-keyed join of the
    // per-doc span list; the corpus is never exploded to words. The
    // oracle rebuilds kept words by an anti-EXISTS against the span
    // table and an ordered string_agg.
    "d63_span_surgery" -> Q(
      (s, dir) => Dedup.spanExcise(
          table(s, dir, "documents"), "doc_id", "text", n = 13)
        .select(col("id").as("doc_id"), col("n_spans"),
          col("n_words"), col("n_removed"), col("clean_text"))
        .orderBy("doc_id").limit(2000),
      Some(s"""WITH $duckDupSpanCtes,
             |sagg AS (SELECT doc_id, CAST(count(*) AS BIGINT)
             |    AS n_spans,
             |  CAST(SUM(span_end - span_start + 1) AS BIGINT)
             |    AS n_removed
             |  FROM spans GROUP BY doc_id),
             |words AS (SELECT doc_id, unnest(toks) AS w,
             |    unnest(generate_series(1, len(toks))) AS pos FROM t),
             |kept AS (SELECT w.doc_id, w.pos, w.w FROM words w
             |  WHERE NOT EXISTS (SELECT 1 FROM spans s
             |    WHERE s.doc_id = w.doc_id
             |      AND w.pos BETWEEN s.span_start AND s.span_end)),
             |cl AS (SELECT doc_id, string_agg(w, ' ' ORDER BY pos)
             |    AS clean_text FROM kept GROUP BY doc_id)
             |SELECT t.doc_id, COALESCE(n_spans, 0) AS n_spans,
             |  CAST(len(toks) AS BIGINT) AS n_words,
             |  COALESCE(n_removed, 0) AS n_removed,
             |  COALESCE(clean_text, '') AS clean_text
             |FROM t LEFT JOIN sagg USING (doc_id)
             |  LEFT JOIN cl USING (doc_id)
             |ORDER BY doc_id LIMIT 2000""".stripMargin)),

    // Winnowing fingerprints (Schleimer et al., SIGMOD 2003 — MOSS):
    // per-window rightmost-minimal gram-hash selection, (hash, pos)
    // packed into h*2^24 + (2^24 - pos) so the selection is a plain
    // integer MIN over the trailing frame in BOTH engines. Report:
    // grams, full windows, distinct fingerprints per doc (the
    // 2/(w+1)-density local sketch; docs under k+w-1 words are below
    // fingerprint resolution and report 0).
    "d65_winnow_fingerprints" -> Q(
      (s, dir) => Dedup.winnowSummaryFromKeys(
          table(s, dir, "documents"), "doc_id", "text", k = 4, w = 5,
          keys = winnowKeysStaged(s, dir))
        .select(col("id").as("doc_id"), col("n_grams"),
          col("n_windows"), col("n_fp"))
        .orderBy("doc_id").limit(2000),
      Some(s"""WITH $duckWinnowKeyCtes,
             |ng AS (SELECT doc_id,
             |    CAST(greatest(len(toks)-3, 0) AS BIGINT) AS n_grams
             |  FROM t),
             |fp AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp
             |  FROM sel GROUP BY doc_id)
             |SELECT ng.doc_id, n_grams,
             |  CAST(greatest(n_grams - 4, 0) AS BIGINT) AS n_windows,
             |  COALESCE(n_fp, 0) AS n_fp
             |FROM ng LEFT JOIN fp USING (doc_id)
             |ORDER BY doc_id LIMIT 2000""".stripMargin)),

    // Cross-doc fingerprint matching over d65's sketch — the MOSS
    // report: pairs sharing >= 2 distinct fingerprint hashes
    // (positions stripped: a moved quote still matches). Hashes with
    // df > 20 drop BEFORE pairing (the d29 heavy-hitter guard on the
    // join key: a boilerplate fingerprint in f docs would emit f^2
    // rows and carries no signal).
    "d66_winnow_pairs" -> Q(
      (s, dir) => Dedup.winnowedPairsFromKeys(
          winnowKeysStaged(s, dir), maxDf = 20, minShared = 2)
        .orderBy("id_a", "id_b").limit(5000),
      Some(duckWinnowPairsSql)),

    // Append-only fingerprint-INDEX replay: winnow fingerprints are a
    // PER-DOCUMENT function, so a standing index maintains itself by
    // pure append — keys(A ∪ B) = keys(A) ∪ keys(B), no cross-doc
    // state to re-converge (contrast d50's band index and d44's star
    // edges). Three deterministic batches' key-frames unioned and
    // matched must equal the ONE-SHOT d66 (its oracle, verbatim).
    "d68_winnow_index_replay" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        // pinned: the matching tail reads the accumulated index 3x
        // (df count + both pair-join sides); un-pinned, each read
        // re-ran all three batch fingerprint scans (r12's slowest
        // entry at 5.91 s for one corpus of fingerprints). The
        // replay still COMPUTES its three batch key-frames — once,
        // which is exactly what a standing append-only index holds.
        val keys = (0 until 3).map(b =>
            Dedup.winnowKeys(
              docs.filter(pmod(col("doc_id"), lit(3L)) === b),
              "doc_id", "text", k = 4, w = 5))
          .reduce(_ unionAll _).localCheckpoint()
        Dedup.winnowedPairsFromKeys(keys, maxDf = 20, minShared = 2)
          .orderBy("id_a", "id_b").limit(5000)
      },
      Some(duckWinnowPairsSql)),

    // Per-edge structural support (common neighbors, Adamic-Adar,
    // neighborhood Jaccard) — the edge-pruning pass BEFORE clustering:
    // g5 outvotes a spurious LSH bridge, g6 measures it (the bridge
    // scores 0/0/0, a template-clique edge scores high on all three).
    // Spark enumerates each triangle once at its degree-minimal apex
    // (hub-safe, the g2/g3 machinery) and fans credits to the 3 member
    // edges; the oracle replays triangles by the naive ordered 3-way
    // self-join (a<b<c — correctness needs no skew bound). Adamic-Adar
    // terms quantize to micro BEFORE summing (order-independent).
    "g6_edge_embeddedness" -> Q(
      (s, dir) => graft.pipeline.GraphOps.edgeEmbeddedness(
          dedupArtifacts(s, dir).pairs, "id_a", "id_b")
        .orderBy("id_a", "id_b").limit(5000),
      Some(s"""WITH ${duckLshVerifiedCtes("documents", 0.3)},
              |te AS (SELECT DISTINCT id_a AS lo, id_b AS hi
              |       FROM vpairs WHERE id_a < id_b),
              |dg AS (SELECT id, CAST(count(*) AS BIGINT) AS deg
              |  FROM (SELECT lo AS id FROM te
              |        UNION ALL SELECT hi FROM te) u GROUP BY id),
              |tri AS (SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
              |  FROM te e1 JOIN te e2 ON e2.lo = e1.hi
              |             JOIN te e3 ON e3.lo = e1.lo
              |                       AND e3.hi = e2.hi),
              |cr AS (SELECT a AS clo, b AS chi, c AS cn FROM tri
              |       UNION ALL SELECT a, c, b FROM tri
              |       UNION ALL SELECT b, c, a FROM tri),
              |sup AS (SELECT clo, chi,
              |    CAST(count(*) AS BIGINT) AS cn_cnt,
              |    CAST(sum(CAST(round(1e6 / ln(d.deg)) AS BIGINT))
              |      AS BIGINT) AS aa_micro
              |  FROM cr JOIN dg d ON d.id = cr.cn GROUP BY clo, chi)
              |SELECT te.lo AS id_a, te.hi AS id_b,
              |  da.deg AS deg_a, db.deg AS deg_b,
              |  coalesce(sup.cn_cnt, CAST(0 AS BIGINT)) AS cn_cnt,
              |  coalesce(sup.aa_micro, CAST(0 AS BIGINT)) AS aa_micro,
              |  (1000000 * coalesce(sup.cn_cnt, CAST(0 AS BIGINT)))
              |    // (da.deg + db.deg
              |        - coalesce(sup.cn_cnt, CAST(0 AS BIGINT)))
              |    AS nbr_jaccard_micro
              |FROM te JOIN dg da ON da.id = te.lo
              |        JOIN dg db ON db.id = te.hi
              |LEFT JOIN sup ON sup.clo = te.lo AND sup.chi = te.hi
              |ORDER BY id_a, id_b LIMIT 5000""".stripMargin
        .replace(" AS (", " AS MATERIALIZED ("))),

    // Shannon entropy of each doc's token distribution in integer
    // micro-nats — the information-theoretic repetition/quality
    // signal (boilerplate loops score far below natural text; unlike
    // the type-token ratio it weighs how repetition mass is spread).
    // Spark side is a pure per-row expression (map-only at scale) —
    // the NATIVE one-pass codegen kernel, whose declarative twin is
    // differential-tested bit-equal; the oracle replays it as the
    // equivalent (doc, token) groupBy. Per-term integer quantization
    // before the sum keeps all aggregation orders hash-exact (the
    // d28 discipline).
    "d36_token_entropy" -> Q(
      (s, dir) => table(s, dir, "documents")
        .select(col("doc_id"),
          TextStats.tokenCount(col("text")).as("n_tokens"),
          TextStats.tokenEntropyMicroNative(col("text"))
            .as("entropy_micro"))
        .orderBy("doc_id").limit(2000),
      Some("""WITH tc AS (SELECT doc_id, t, count(*) AS c
             |  FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS t
             |        FROM documents) u
             |  GROUP BY doc_id, t),
             |tn AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n
             |  FROM tc GROUP BY doc_id),
             |terms AS (SELECT tc.doc_id,
             |    CAST(ROUND(1e6 * (CAST(c AS DOUBLE) / n)
             |      * ln(CAST(c AS DOUBLE) / n)) AS BIGINT) AS term
             |  FROM tc JOIN tn USING (doc_id))
             |SELECT t2.doc_id, tn.n AS n_tokens,
             |  CAST(-sum(t2.term) AS BIGINT) AS entropy_micro
             |FROM terms t2 JOIN tn USING (doc_id)
             |GROUP BY t2.doc_id, tn.n
             |ORDER BY doc_id LIMIT 2000""".stripMargin)),

    // PageRank centrality over the verified near-dup graph (d15's
    // pairs): the cluster-canonical-survivor policy that picks the most
    // connected document instead of the smallest id. Integer
    // micro-unit ranks end to end — exact integral division per edge,
    // one IEEE damping multiply per node per iteration — so 3
    // iterations replay bit-exactly as 3 chained SQL CTEs. Only the
    // pair graph shuffles; the corpus is touched once (by d15's own
    // candidate generation).
    "g1_pagerank" -> Q(
      (s, dir) => graft.pipeline.GraphOps.pageRankMicro(
          dedupArtifacts(s, dir).pairs,
          "id_a", "id_b", iterations = 3)
        .withColumnRenamed("id", "doc_id")
        .orderBy(desc("rank_micro"), asc("doc_id")).limit(500),
      Some(s"""WITH ${duckLshVerifiedCtes("documents", 0.3)},
              |ge AS (SELECT id_a AS src, id_b AS dst FROM vpairs
              |       UNION ALL
              |       SELECT id_b AS src, id_a AS dst FROM vpairs),
              |${duckPageRankCtes("ge")}
              |SELECT id AS doc_id, r AS rank_micro FROM gr3
              |ORDER BY rank_micro DESC, doc_id ASC
              |LIMIT 500""".stripMargin)),

    // PERSONALIZED PageRank: teleport mass lands only on a seed set,
    // so the score measures proximity to the seeds — retrieval
    // expansion over the near-dup graph ("docs structurally related
    // to this template family"). Seeds here are the 2 smallest node
    // ids of the pair graph (a 2-row parameter fetch, data-derived so
    // the oracle re-derives them); unreached nodes report rank 0.
    // Same integer micro discipline and chained-CTE replay as g1.
    "g7_personalized_pagerank" -> Q(
      (s, dir) => pprEntry(s, dir, sparse = false),
      Some(pprOracleSql)),

    // The SPARSE-FRONTIER twin of g7 — same seeds, same oracle, same
    // bit-exact ranks, different PLAN: only nonzero-rank rows ride the
    // per-round join (a zero rank contributes exactly 0 to the inflow
    // sum, so dropping the rows is arithmetic identity), unreached
    // nodes report 0 through one final node-sized left join. The
    // round-10 ring rehearsal measured 6.8x on a 50M-edge graph where
    // the 3-hop frontier was 7 nodes; this entry keeps the path under
    // a driver-checked oracle (the q17b/q17c twin convention: the
    // oracle pins that plan choice never moves the answer).
    "g9_ppr_sparse" -> Q(
      (s, dir) => pprEntry(s, dir, sparse = true),
      Some(pprOracleSql)),

    // WEIGHTED PageRank over the SIMILARITY-weighted near-dup graph:
    // each rank splits across a node's edges proportionally to the
    // verified Jaccard (micro-quantized), so a doc held by many
    // STRONG near-dup edges outranks one held by many weak ones —
    // invisible to unweighted g1. Integer to the last division
    // ((r·w) div Σw; with constant weights it collapses to g1's
    // arithmetic bit for bit, the spec pins it); 3 unrolled rounds in
    // the oracle.
    "g10_weighted_pagerank" -> Q(
      (s, dir) => graft.pipeline.GraphOps.weightedPageRankMicro(
          dedupArtifacts(s, dir).pairs
            .withColumn("w", round(col("jaccard") * 1e6).cast("long")),
          "id_a", "id_b", "w", iterations = 3)
        .withColumnRenamed("id", "doc_id")
        .orderBy(desc("rank_micro"), asc("doc_id")).limit(500),
      Some(s"""WITH ${duckLshVerifiedCtes("documents", 0.3)},
              |wge AS (SELECT id_a AS src, id_b AS dst,
              |    CAST(ROUND(ROUND(jaccard, 6) * 1e6) AS BIGINT) AS w
              |  FROM vpairs
              |  UNION ALL SELECT id_b, id_a,
              |    CAST(ROUND(ROUND(jaccard, 6) * 1e6) AS BIGINT)
              |  FROM vpairs),
              |wgs AS (SELECT src, CAST(SUM(w) AS BIGINT) AS ws
              |  FROM wge GROUP BY src),
              |wr0 AS (SELECT src AS id, CAST(1000000 AS BIGINT) AS r
              |  FROM wgs),
              |wr1 AS (SELECT wge.dst AS id, CAST(150000
              |    + ROUND(0.85 * SUM((wr0.r * wge.w) // wgs.ws))
              |    AS BIGINT) AS r
              |  FROM wge JOIN wr0 ON wr0.id = wge.src
              |  JOIN wgs ON wgs.src = wge.src GROUP BY wge.dst),
              |wr2 AS (SELECT wge.dst AS id, CAST(150000
              |    + ROUND(0.85 * SUM((wr1.r * wge.w) // wgs.ws))
              |    AS BIGINT) AS r
              |  FROM wge JOIN wr1 ON wr1.id = wge.src
              |  JOIN wgs ON wgs.src = wge.src GROUP BY wge.dst),
              |wr3 AS (SELECT wge.dst AS id, CAST(150000
              |    + ROUND(0.85 * SUM((wr2.r * wge.w) // wgs.ws))
              |    AS BIGINT) AS r
              |  FROM wge JOIN wr2 ON wr2.id = wge.src
              |  JOIN wgs ON wgs.src = wge.src GROUP BY wge.dst)
              |SELECT id AS doc_id, r AS rank_micro FROM wr3
              |ORDER BY rank_micro DESC, doc_id ASC
              |LIMIT 500""".stripMargin)),

    // Degree ASSORTATIVITY of the near-dup graph (Newman 2002):
    // Pearson correlation of endpoint degrees over every directed
    // edge — do well-connected docs near-duplicate other
    // well-connected docs (one dense template family, r > 0) or do
    // hubs fan out to leaves (boilerplate-spoke pattern, r < 0)?
    // One number auditing graph SHAPE that g1's rank histogram and
    // d40's size histogram cannot tell apart. Exact decimal
    // co-moments (q36/q61 discipline), one float division at the end.
    "g11_assortativity" -> Q(
      (s, dir) => graft.pipeline.GraphOps.degreeAssortativity(
        dedupArtifacts(s, dir).pairs, "id_a", "id_b"),
      Some(s"""WITH ${duckLshVerifiedCtes("documents", 0.3)},
              |ate AS (SELECT DISTINCT least(id_a, id_b) AS lo,
              |    greatest(id_a, id_b) AS hi
              |  FROM vpairs WHERE id_a <> id_b),
              |adg AS (SELECT id, CAST(count(*) AS BIGINT) AS deg
              |  FROM (SELECT lo AS id FROM ate
              |        UNION ALL SELECT hi FROM ate) u GROUP BY id),
              |ade AS (SELECT da.deg AS x, db.deg AS y
              |  FROM ate JOIN adg da ON da.id = ate.lo
              |           JOIN adg db ON db.id = ate.hi
              |  UNION ALL
              |  SELECT db.deg, da.deg
              |  FROM ate JOIN adg da ON da.id = ate.lo
              |           JOIN adg db ON db.id = ate.hi),
              |aag AS (SELECT CAST(count(*) AS HUGEINT) AS n,
              |    coalesce(sum(CAST(x AS HUGEINT)), 0) AS sx,
              |    coalesce(sum(CAST(y AS HUGEINT)), 0) AS sy,
              |    coalesce(sum(CAST(x AS HUGEINT) * y), 0) AS sxy,
              |    coalesce(sum(CAST(x AS HUGEINT) * x), 0) AS sxx,
              |    coalesce(sum(CAST(y AS HUGEINT) * y), 0) AS syy
              |  FROM ade)
              |SELECT CAST(n AS BIGINT) AS n_endpoints,
              |  ROUND(CAST(n * sxy - sx * sy AS DOUBLE) /
              |    nullif(sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
              |      * CAST(n * syy - sy * sy AS DOUBLE)), 0.0), 6)
              |    AS assortativity
              |FROM aag""".stripMargin)),

    // Newman–Girvan MODULARITY of the g5 LPA partition — the quality
    // gate on community structure itself: Q ≈ 0 says the labels are
    // no better than a degree-preserving rewiring (don't trust
    // community canonicalization), Q ≳ 0.3 says real structure.
    // Exact to the last step: S = Σ_c d_c = 2m, so
    // Q = (2·S·Σm_c − Σd_c²)/S² is one integer division — no edge
    // count job, no float accumulation. Oracle replays the same 3
    // LPA rounds as chained CTEs (g8's machinery over d23's graph).
    "g12_modularity" -> Q(
      (s, dir) => graft.pipeline.GraphOps.modularity(
        dedupArtifacts(s, dir).pairs, "id_a", "id_b", rounds = 3),
      Some(s"""WITH ${duckLshVerifiedCtes("documents", 0.3)},
              |mte AS (SELECT DISTINCT least(id_a, id_b) AS lo,
              |    greatest(id_a, id_b) AS hi
              |  FROM vpairs WHERE id_a <> id_b),
              |med AS (SELECT lo AS src, hi AS dst FROM mte
              |       UNION ALL SELECT hi, lo FROM mte),
              |${duckLpaCtes("m")},
              |mdg AS (SELECT id, CAST(count(*) AS BIGINT) AS deg
              |  FROM (SELECT lo AS id FROM mte
              |        UNION ALL SELECT hi FROM mte) u GROUP BY id),
              |mdc AS (SELECT l.label, CAST(sum(d.deg) AS HUGEINT)
              |    AS dsum
              |  FROM ml3 l JOIN mdg d ON d.id = l.id GROUP BY l.label),
              |mmc AS (SELECT la.label, CAST(count(*) AS HUGEINT)
              |    AS m_in
              |  FROM mte JOIN ml3 la ON la.id = mte.lo
              |           JOIN ml3 lb ON lb.id = mte.hi
              |  WHERE la.label = lb.label GROUP BY la.label),
              |mpl AS (SELECT mdc.dsum,
              |    coalesce(mmc.m_in, 0) AS m_in
              |  FROM mdc LEFT JOIN mmc USING (label)),
              |mag AS (SELECT coalesce(sum(dsum), 0) AS s,
              |    coalesce(sum(m_in), 0) AS smc,
              |    coalesce(sum(dsum * dsum), 0) AS sdc2,
              |    CAST(count(*) AS BIGINT) AS ncomm
              |  FROM mpl)
              |SELECT CAST(s // 2 AS BIGINT) AS n_edges,
              |  ncomm AS n_communities,
              |  CASE WHEN s > 0 THEN
              |    ROUND(CAST(2 * s * smc - sdc2 AS DOUBLE)
              |      / CAST(s * s AS DOUBLE), 6)
              |  ELSE NULL END AS modularity
              |FROM mag""".stripMargin
        .replace(" AS (", " AS MATERIALIZED ("))),

    // Multi-source BFS hop distances over the word-collocation graph
    // from its 2 smallest node ids (the g7 seed convention,
    // data-derived so the oracle re-derives them): exact shortest hop
    // counts within 3 hops — the "everything within k hops of a seed
    // set" traversal (on a near-dup graph: review candidates around
    // known-bad documents). Frontier-iterated (work scales with the
    // frontier, not the node count); oracle = 3 unrolled
    // layer-minus-settled CTEs over the shared word-graph derivation.
    "g13_bfs_hops" -> Q(
      (s, dir) => {
        val (edges, words) = wordGraph(s, dir)
        val seeds = edges.select(col("id_a").as("id"))
          .union(edges.select(col("id_b").as("id")))
          .distinct().orderBy("id").limit(2)
          .collect().map(_.getLong(0)).toSeq
        graft.pipeline.GraphOps.bfsHops(
            edges, "id_a", "id_b", seeds, maxHops = 3)
          .join(words, "id")
          .select(col("word"), col("hops"))
          .orderBy("hops", "word").limit(2000)
      },
      Some(s"""WITH $duckWordGraphCtes,
              |sd AS (SELECT id FROM (SELECT DISTINCT src AS id
              |    FROM ed) u ORDER BY id LIMIT 2),
              |h0 AS (SELECT id, CAST(0 AS BIGINT) AS hops FROM sd),
              |h1 AS (SELECT DISTINCT ed.dst AS id,
              |    CAST(1 AS BIGINT) AS hops
              |  FROM ed JOIN h0 ON ed.src = h0.id
              |  WHERE ed.dst NOT IN (SELECT id FROM h0)),
              |h2 AS (SELECT DISTINCT ed.dst AS id,
              |    CAST(2 AS BIGINT) AS hops
              |  FROM ed JOIN h1 ON ed.src = h1.id
              |  WHERE ed.dst NOT IN (SELECT id FROM h0
              |    UNION ALL SELECT id FROM h1)),
              |h3 AS (SELECT DISTINCT ed.dst AS id,
              |    CAST(3 AS BIGINT) AS hops
              |  FROM ed JOIN h2 ON ed.src = h2.id
              |  WHERE ed.dst NOT IN (SELECT id FROM h0
              |    UNION ALL SELECT id FROM h1
              |    UNION ALL SELECT id FROM h2)),
              |hh AS (SELECT * FROM h0 UNION ALL SELECT * FROM h1
              |  UNION ALL SELECT * FROM h2 UNION ALL SELECT * FROM h3)
              |SELECT wm.word, hh.hops FROM hh JOIN wm USING (id)
              |ORDER BY hops, word LIMIT 2000""".stripMargin
        .replace(" AS (", " AS MATERIALIZED ("))),

    // Resource-Allocation link prediction (Zhou, Lü & Zhang 2009)
    // over the collocation graph: non-adjacent word pairs sharing
    // collocation neighbors, scored Σ 1/deg(z) over the common
    // neighbors — the integer-exact member of the common-neighbor
    // family (one round(1e6/deg) per neighbor; no cross-engine log
    // like Adamic–Adar's). These are the collocations the PMI top-k
    // MISSED but the graph structure vouches for. Enumeration
    // bucketed by shared neighbor, super-hubs excluded (deg ≤ 1000).
    "g14_resource_alloc" -> Q(
      (s, dir) => {
        val (edges, words) = wordGraph(s, dir)
        val ra = graft.pipeline.GraphOps.resourceAllocationMicro(
          edges, "id_a", "id_b", maxDegree = 1000L)
        val wa = words.select(col("id").as("id_a"),
          col("word").as("word_a"))
        val wb = words.select(col("id").as("id_b"),
          col("word").as("word_b"))
        ra.join(wa, "id_a").join(wb, "id_b")
          .select(col("word_a"), col("word_b"), col("cn"),
            col("ra_micro"))
          .orderBy(desc("ra_micro"), asc("word_a"), asc("word_b"))
          .limit(200)
      },
      Some(s"""WITH $duckWordGraphCtes,
              |rd AS (SELECT src AS z, CAST(count(*) AS BIGINT) AS deg
              |  FROM ed GROUP BY src),
              |rv AS (SELECT ed.src AS z, ed.dst AS x, rd.deg
              |  FROM ed JOIN rd ON rd.z = ed.src
              |  WHERE rd.deg <= 1000),
              |rw AS (SELECT p1.x AS xa, p2.x AS xb, p1.deg
              |  FROM rv p1 JOIN rv p2
              |    ON p1.z = p2.z AND p1.x < p2.x),
              |rs AS (SELECT xa, xb, CAST(count(*) AS BIGINT) AS cn,
              |    CAST(sum(CAST(round(1e6 / deg) AS BIGINT))
              |      AS BIGINT) AS ra_micro
              |  FROM rw GROUP BY xa, xb),
              |rn AS (SELECT rs.* FROM rs
              |  LEFT JOIN te ON te.lo = rs.xa AND te.hi = rs.xb
              |  WHERE te.lo IS NULL)
              |SELECT wa.word AS word_a, wb.word AS word_b, cn,
              |  ra_micro
              |FROM rn JOIN wm wa ON wa.id = rn.xa
              |        JOIN wm wb ON wb.id = rn.xb
              |ORDER BY ra_micro DESC, word_a, word_b
              |LIMIT 200""".stripMargin
        .replace(" AS (", " AS MATERIALIZED ("))),

    // Graph DBSCAN (Ester et al. 1996) over the collocation graph:
    // density clustering that plain CC cannot do — a single weak
    // bridge edge no longer fuses two dense word families, because
    // its endpoints fail the degree-≥-2 core test and demote to
    // border/noise. Cores cluster by CC over core-core edges (min
    // reachable id); a border takes its smallest adjacent core
    // cluster; cluster labels join back to readable words.
    "g15_dbscan" -> Q(
      (s, dir) => {
        val (edges, words) = wordGraph(s, dir)
        graft.pipeline.GraphOps.dbscanGraph(
            edges, "id_a", "id_b", minPts = 2)
          .join(words, "id")
          .join(words.select(col("id").as("cluster"),
            col("word").as("cluster_word")), Seq("cluster"), "left")
          .select(col("word"), col("role"), col("cluster_word"))
          .orderBy("word").limit(2000)
      },
      Some(s"""WITH RECURSIVE $duckWordGraphCtes,
              |dg AS (SELECT src AS id, CAST(count(*) AS BIGINT)
              |    AS deg FROM ed GROUP BY src),
              |cr AS (SELECT id FROM dg WHERE deg >= 2),
              |ce AS (SELECT te.lo AS a, te.hi AS b FROM te
              |  WHERE te.lo IN (SELECT id FROM cr)
              |    AND te.hi IN (SELECT id FROM cr)),
              |ced AS (SELECT a, b FROM ce UNION SELECT b, a FROM ce),
              |reach(s, d) AS (
              |  SELECT a, b FROM ced
              |  UNION
              |  SELECT r.s, e2.b FROM reach r
              |  JOIN ced e2 ON e2.a = r.d),
              |cmp AS (SELECT s AS id, least(s, min(d)) AS cluster
              |  FROM reach GROUP BY s),
              |ccp AS (SELECT cr.id, coalesce(cmp.cluster, cr.id)
              |    AS cluster
              |  FROM cr LEFT JOIN cmp USING (id)),
              |br AS (SELECT ed.src AS id, min(ccp.cluster) AS cluster
              |  FROM ed JOIN ccp ON ccp.id = ed.dst
              |  WHERE ed.src NOT IN (SELECT id FROM cr)
              |  GROUP BY ed.src),
              |ns AS (SELECT dg.id FROM dg
              |  WHERE dg.id NOT IN (SELECT id FROM cr)
              |    AND dg.id NOT IN (SELECT id FROM br)),
              |al AS (SELECT id, 'core' AS role, cluster FROM ccp
              |  UNION ALL SELECT id, 'border', cluster FROM br
              |  UNION ALL SELECT id, 'noise', NULL FROM ns)
              |SELECT wm.word, al.role, wc.word AS cluster_word
              |FROM al JOIN wm ON wm.id = al.id
              |LEFT JOIN wm wc ON wc.id = al.cluster
              |ORDER BY wm.word LIMIT 2000""".stripMargin
        .replace(" AS (", " AS MATERIALIZED (")
        .replace("reach(s, d) AS MATERIALIZED (",
          "reach(s, d) AS ("))),

    // One Louvain local-move round from singletons (Blondel 2008) —
    // the Q-DRIVEN community refinement next to g5's degree-blind
    // majority rule: each node joins the neighbor community with the
    // best exact-integer modularity gain 2m − deg(i)·deg(j) (the
    // ΔQ·2m² scaling — no float enters the argmax), moves restricted
    // to strictly-smaller community ids so the synchronous round has
    // no swap oscillation (deterministic; cliques collapse onto
    // their minimum id). GraphOpsSpec pins Q(after) ≥ Q(before) via
    // modularityOfLabels on the bridged-cliques fixture.
    "g16_louvain_move" -> Q(
      (s, dir) => graft.pipeline.GraphOps.louvainOneLevel(
          dedupArtifacts(s, dir).pairs, "id_a", "id_b")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id").limit(2000),
      Some(s"""WITH $duckLouvainMoveCtes
              |SELECT d.id AS doc_id, d.deg,
              |  CAST(coalesce(b.dst, d.id) AS BIGINT) AS community,
              |  CAST(coalesce(b.gain, 0) AS BIGINT) AS gain_scaled
              |FROM ldg d LEFT JOIN lpick b ON b.src = d.id
              |ORDER BY doc_id LIMIT 2000""".stripMargin
        .replace(" AS (", " AS MATERIALIZED ("))),

    // Louvain level 2 (Blondel 2008 §2, the aggregation step): g16's
    // communities contract to a weighted multigraph (inter-community
    // edge counts as weights, intra counts as self-loops; total edge
    // weight — and therefore 2m and the Q scale — conserved) and the
    // SAME exact-integer weighted move round runs over the
    // super-nodes: gain 2m·w_cd − k_c·k_d, smaller-id guard, no
    // float in the argmax. GraphOpsSpec pins Q(l2 ∘ l1) ≥ Q(l1) on
    // the clique-pairs fixture.
    "g17_louvain_two_level" -> Q(
      (s, dir) => graft.pipeline.GraphOps.louvainTwoLevel(
          dedupArtifacts(s, dir).pairs, "id_a", "id_b")
        .orderBy("community_l1").limit(2000),
      Some(s"""WITH $duckLouvainMoveCtes,
              |la AS (SELECT d.id, coalesce(b.dst, d.id) AS comm
              |  FROM ldg d LEFT JOIN lpick b ON b.src = d.id),
              |ce AS (SELECT a.comm AS ca, b.comm AS cb FROM te
              |  JOIN la a ON a.id = te.lo JOIN la b ON b.id = te.hi),
              |ci AS (SELECT least(ca, cb) AS lo,
              |    greatest(ca, cb) AS hi, CAST(count(*) AS BIGINT)
              |      AS w
              |  FROM ce WHERE ca <> cb GROUP BY 1, 2),
              |cl AS (SELECT ca AS id, CAST(count(*) AS BIGINT) AS w
              |  FROM ce WHERE ca = cb GROUP BY ca),
              |dg2 AS (SELECT id, CAST(sum(w) AS BIGINT) AS k FROM (
              |    SELECT lo AS id, w FROM ci
              |    UNION ALL SELECT hi, w FROM ci
              |    UNION ALL SELECT id, 2 * w FROM cl) u GROUP BY id),
              |s2 AS (SELECT CAST(sum(k) AS BIGINT) AS s2m2 FROM dg2),
              |mv2 AS (SELECT e.src, e.dst,
              |    s2m2 * e.w - ds.k * dd.k AS gain
              |  FROM (SELECT lo AS src, hi AS dst, w FROM ci
              |        UNION ALL SELECT hi, lo, w FROM ci) e
              |  JOIN dg2 ds ON ds.id = e.src
              |  JOIN dg2 dd ON dd.id = e.dst, s2
              |  WHERE e.dst < e.src
              |    AND s2m2 * e.w - ds.k * dd.k > 0),
              |pk2 AS (SELECT src, dst, gain FROM (
              |    SELECT src, dst, gain, row_number() OVER (
              |      PARTITION BY src ORDER BY gain DESC, dst ASC)
              |      AS rn FROM mv2) w2 WHERE rn = 1)
              |SELECT d.id AS community_l1, d.k AS k_c,
              |  coalesce(cl.w, 0) AS w_self,
              |  CAST(coalesce(b.dst, d.id) AS BIGINT) AS community_l2,
              |  CAST(coalesce(b.gain, 0) AS BIGINT) AS gain_scaled
              |FROM dg2 d LEFT JOIN pk2 b ON b.src = d.id
              |  LEFT JOIN cl ON cl.id = d.id
              |ORDER BY community_l1 LIMIT 2000""".stripMargin
        .replace(" AS (", " AS MATERIALIZED ("))),

    // Louvain to the FIXPOINT: alternate the weighted move round with
    // contraction until a sweep performs no move (g16 is sweep 1, g17
    // sweep 2; this runs the pyramid out). The loop early-exits on
    // the first no-move sweep, but a level past convergence is the
    // IDENTITY (no positive gain -> identity labeling -> identity
    // contraction), so the oracle unrolls a FIXED 4 levels as chained
    // CTEs and matches bit-for-bit — the g5/d55 fixed-unroll
    // discipline made safe by idempotence at the fixpoint. n_levels
    // counts the sweeps that moved (both engines re-derive it).
    "g18_louvain_converged" -> Q(
      (s, dir) => graft.pipeline.GraphOps.louvainConverged(
          dedupArtifacts(s, dir).pairs, "id_a", "id_b", maxLevels = 6)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id").limit(2000),
      Some(duckLouvainConvergedSql(6))),

    // Pairs → CLUSTERS: connected components of the verified near-dup
    // graph (Dedup.connectedComponents, alternating large-star /
    // small-star contraction — O(log²) rounds regardless of chain
    // length, edge count never above the input's). component = the
    // minimum doc_id transitively reachable; the oracle recomputes it
    // as a recursive transitive closure over the same verified pairs.
    "d23_dup_components" -> Q(
      (s, dir) => {
        val pairs = Dedup.lshVerifiedJaccardPairs(
          table(s, dir, "documents"), "doc_id", "text", threshold = 0.3)
        Dedup.connectedComponents(pairs, "id_a", "id_b")
          .select(col("id").as("doc_id"), col("component"))
          .orderBy("doc_id").limit(2000)
      },
      Some(s"""WITH RECURSIVE ${duckLshVerifiedCtes("documents", 0.3)},
              |cedges AS (SELECT id_a AS a, id_b AS b FROM vpairs
              |  UNION SELECT id_b, id_a FROM vpairs),
              |reach(s, d) AS (
              |  SELECT a, b FROM cedges
              |  UNION
              |  SELECT r.s, e.b FROM reach r JOIN cedges e ON e.a = r.d),
              |comp AS (SELECT s AS doc_id, least(s, min(d)) AS component
              |  FROM reach GROUP BY s)
              |SELECT doc_id, component FROM comp
              |ORDER BY doc_id LIMIT 2000""".stripMargin)),

    // Batch REPLAY of incremental cluster maintenance: the verified
    // near-dup pairs split into three deterministic batches and fold
    // into a standing assignment via mergeComponents — the
    // per-batch production shape for a corpus that clusters as it
    // ingests — and the final assignment must equal the ONE-SHOT
    // transitive closure over all pairs (d23's oracle, verbatim).
    // Order-independence of the fold is the semantic being pinned:
    // star-edge state + new pairs re-converges to the same fixed
    // point regardless of how history was batched.
    "d44_merge_components_replay" -> Q(
      (s, dir) => {
        // staged pairs (already pinned — no per-entry checkpoint); the
        // replay exercises mergeComponents, not the pair pipeline
        val pairs = dedupArtifacts(s, dir).pairs
        var assign = Dedup.connectedComponents(pairs.limit(0),
          "id_a", "id_b")
        (0 until 3).foreach { b =>
          // lazy: the next batch's first count materializes it — the
          // truncation still happens, one fewer job per batch
          assign = Dedup.mergeComponents(assign,
            pairs.filter(pmod(col("id_a") + col("id_b"), lit(3L))
              === b),
            "id_a", "id_b").localCheckpoint(false)
        }
        assign.select(col("id").as("doc_id"), col("component"))
          .orderBy("doc_id").limit(2000)
      },
      Some(s"""WITH RECURSIVE ${duckLshVerifiedCtes("documents", 0.3)},
              |medges AS (SELECT id_a AS a, id_b AS b FROM vpairs
              |  UNION SELECT id_b, id_a FROM vpairs),
              |mreach(s, d) AS (
              |  SELECT a, b FROM medges
              |  UNION
              |  SELECT r.s, e.b FROM mreach r JOIN medges e ON e.a = r.d),
              |mcomp AS (SELECT s AS doc_id, least(s, min(d)) AS component
              |  FROM mreach GROUP BY s)
              |SELECT doc_id, component FROM mcomp
              |ORDER BY doc_id LIMIT 2000""".stripMargin)),

    // Substring-level dedup signal (Lee et al., ACL 2022): per doc,
    // the fraction of its distinct word 13-grams that occur in at
    // least one OTHER document — duplication doc-level Jaccard can't
    // see (a quoted paragraph in an otherwise-unique page).
    "d24_dup_spans" -> Q(
      (s, dir) => Dedup.crossDocNgramStats(
          table(s, dir, "documents"), "doc_id", "text", n = 13)
        .select(col("id").as("doc_id"), col("n_grams"),
          col("n_dup_grams"), col("dup_frac"))
        .orderBy("doc_id").limit(2000),
      Some(s"""WITH $duckDupGramCtes
             |SELECT tot.doc_id, n_grams,
             |  COALESCE(n_dup_grams, 0) AS n_dup_grams,
             |  CASE WHEN n_grams > 0 THEN
             |    ROUND(CAST(COALESCE(n_dup_grams, 0) AS DOUBLE)
             |      / n_grams, 6)
             |  ELSE 0.0 END AS dup_frac
             |FROM tot LEFT JOIN dup USING (doc_id)
             |ORDER BY doc_id LIMIT 2000""".stripMargin)),

    // Document-level filter on the d24 signal (RefinedWeb's dedup rule
    // applied cross-document): keep docs whose duplicated-13-gram
    // fraction is <= 0.2. Threshold compares the ROUNDED fraction so
    // the keep set replays exactly in the oracle. 45/500 docs drop at
    // sf0.01 (the near-dup cluster members).
    "d27_dup_ngram_filter" -> Q(
      (s, dir) => Dedup.dupNgramFilter(
          table(s, dir, "documents"), "doc_id", "text", n = 13,
          maxDupFrac = 0.2)
        .select(col("id").as("doc_id"), col("n_grams"), col("dup_frac"))
        .orderBy("doc_id").limit(2000),
      Some(s"""WITH $duckDupGramCtes,
             |st AS (SELECT tot.doc_id, n_grams,
             |  CASE WHEN n_grams > 0 THEN
             |    ROUND(CAST(COALESCE(n_dup_grams, 0) AS DOUBLE)
             |      / n_grams, 6)
             |  ELSE 0.0 END AS dup_frac
             |FROM tot LEFT JOIN dup USING (doc_id))
             |SELECT doc_id, n_grams, dup_frac FROM st
             |WHERE dup_frac <= 0.2
             |ORDER BY doc_id LIMIT 2000""".stripMargin)),

    // Corpus-unigram LM quality score (CCNet's perplexity filter with
    // the corpus itself as the model). All aggregated quantities are
    // integer-quantized BEFORE summation (1e-6 units of log10 p), so
    // the result is summation-order-independent and hash-exact against
    // the oracle — see TextStats.unigramLogProb.
    "d28_unigram_logprob" -> Q(
      (s, dir) => TextStats.unigramLogProb(
          table(s, dir, "documents"), "doc_id", "text")
        .select(col("id").as("doc_id"), col("ntok"),
          col("sum_ll_micro"), col("score_micro"))
        .orderBy("doc_id").limit(2000),
      Some("""WITH t AS (SELECT doc_id, unnest(str_split(text, ' '))
             |    AS tok FROM documents),
             |f AS (SELECT tok, count(*) AS cnt FROM t GROUP BY tok),
             |n AS (SELECT CAST(ROUND(log10(SUM(cnt)) * 1e6) AS BIGINT)
             |    AS ll_n_micro FROM f),
             |d AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS ntok,
             |    CAST(SUM(CAST(ROUND(log10(cnt) * 1e6) AS BIGINT))
             |      AS BIGINT) AS sum_ll_micro
             |  FROM t JOIN f USING (tok) GROUP BY doc_id)
             |SELECT doc_id, ntok, sum_ll_micro,
             |  CAST(TRUNC(CAST(sum_ll_micro - ntok * ll_n_micro
             |    AS DOUBLE) / ntok) AS BIGINT) AS score_micro
             |FROM d, n ORDER BY doc_id LIMIT 2000""".stripMargin)),

    // ---- D16-D20: dataset curation (pipeline/Curation) ----------------
    // Deterministic train/val/test split: md5-hash bucket of doc_id →
    // 90/5/5; per-split doc + token counts. Map-only assignment (a
    // doc's split never depends on the corpus), one aggregation.
    "d16_split_assign" -> Q(
      (s, dir) => Curation.assignSplits(table(s, dir, "documents"))
        .groupBy("split").agg(
          count(lit(1)).as("docs"),
          sum(TextStats.tokenCount(col("text"))).as("tokens"))
        .orderBy("split"),
      Some(s"""WITH s AS (SELECT doc_id,
              |    len(str_split(text,' ')) AS ntok,
              |    (${duckHash60("CAST(doc_id AS VARCHAR)")}) % 100 AS b
              |  FROM documents)
              |SELECT CASE WHEN b < 90 THEN 'train'
              |            WHEN b < 95 THEN 'val'
              |            ELSE 'test' END AS split,
              |  CAST(count(*) AS BIGINT) AS docs,
              |  CAST(sum(ntok) AS BIGINT) AS tokens
              |FROM s GROUP BY 1 ORDER BY split""".stripMargin)),

    // Deterministic stratified sample: 20 docs per language, selected
    // by portable-hash order (uniform, reproducible run-to-run and
    // engine-to-engine). One shuffle keyed on the stratum.
    "d17_stratified_sample" -> Q(
      (s, dir) => Curation.stratifiedSample(
          table(s, dir, "documents"), col("lang"), col("doc_id"), n = 20)
        .select(col("lang"), col("doc_id"),
          col("sample_rank").cast("long").as("sample_rank"))
        .orderBy("lang", "sample_rank").limit(500),
      Some(s"""WITH r AS (SELECT lang, doc_id,
              |    row_number() OVER (PARTITION BY lang
              |      ORDER BY ${duckHash60("CAST(doc_id AS VARCHAR)")},
              |        doc_id) AS sample_rank
              |  FROM documents)
              |SELECT lang, doc_id,
              |  CAST(sample_rank AS BIGINT) AS sample_rank
              |FROM r WHERE sample_rank <= 20
              |ORDER BY lang, sample_rank LIMIT 500""".stripMargin)),

    // Benchmark-contamination scan: docs sharing any distinct word
    // 8-gram with the benchmark subset (doc_id % 20 = 0 stands in for
    // an eval set). Long n-grams are near-unique → no join skew; the
    // benchmark side is eval-sized → broadcast.
    "d18_contamination" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        Curation.contamination(
            corpus = docs.filter(pmod(col("doc_id"), lit(20)) =!= 0),
            bench = docs.filter(pmod(col("doc_id"), lit(20)) === 0),
            n = 8)
          .orderBy("doc_id").limit(1000)
      },
      Some("""WITH toks AS (SELECT doc_id, str_split(text,' ') AS t
             |  FROM documents),
             |g AS (SELECT doc_id, list_distinct(list_transform(
             |    generate_series(1, greatest(len(t)-7, 0)),
             |    i -> array_to_string(t[i:i+7], ' '))) AS gs FROM toks),
             |cg AS (SELECT doc_id, unnest(gs) AS gram FROM g
             |  WHERE doc_id % 20 <> 0),
             |bg AS (SELECT DISTINCT unnest(gs) AS gram FROM g
             |  WHERE doc_id % 20 = 0)
             |SELECT cg.doc_id, CAST(count(*) AS BIGINT) AS shared_ngrams
             |FROM cg JOIN bg USING (gram)
             |GROUP BY cg.doc_id ORDER BY doc_id LIMIT 1000""".stripMargin)),

    // TF-IDF top-3 terms per doc. Ranking happens on the ROUNDED score
    // (6 digits, term asc tie-break) so the order is identical across
    // engines despite last-ulp ln() differences.
    "d19_tfidf_topk" -> Q(
      (s, dir) => Curation.tfidfTopTerms(
          table(s, dir, "documents"), k = 3)
        .withColumn("term_rank", col("term_rank").cast("long"))
        .orderBy("doc_id", "term_rank").limit(2000),
      Some("""WITH pairs AS (SELECT doc_id, t AS term,
             |    CAST(count(*) AS BIGINT) AS tf
             |  FROM (SELECT doc_id, unnest(str_split(text,' ')) AS t
             |        FROM documents) u
             |  GROUP BY doc_id, t),
             |wl AS (SELECT *, sum(tf) OVER (PARTITION BY doc_id)
             |    AS doc_len FROM pairs),
             |dfreq AS (SELECT term, count(*) AS df FROM pairs
             |  GROUP BY term),
             |n AS (SELECT count(*) AS n_docs FROM documents),
             |scored AS (SELECT doc_id, term,
             |    round(CAST(tf AS DOUBLE)/doc_len *
             |      (ln((n_docs+1)/CAST(df+1 AS DOUBLE)) + 1), 6) AS tfidf
             |  FROM wl JOIN dfreq USING (term) CROSS JOIN n),
             |r AS (SELECT doc_id, term, tfidf,
             |    row_number() OVER (PARTITION BY doc_id
             |      ORDER BY tfidf DESC, term ASC) AS term_rank
             |  FROM scored)
             |SELECT doc_id, term, CAST(term_rank AS BIGINT) AS term_rank,
             |  tfidf
             |FROM r WHERE term_rank <= 3
             |ORDER BY doc_id, term_rank LIMIT 2000""".stripMargin)),

    // Corpus-mixture report: per (source, lang) docs, tokens, and
    // token share — the composition table a data-mixing stage balances
    // against. The global-share window runs over the post-agg frame
    // (mixture cardinality, not corpus rows).
    "d20_mixture" -> Q(
      (s, dir) => Curation.mixtureReport(table(s, dir, "documents"))
        .orderBy("source", "lang").limit(500),
      Some("""WITH agg AS (SELECT source, lang,
             |    CAST(count(*) AS BIGINT) AS docs,
             |    CAST(sum(len(str_split(text,' '))) AS BIGINT) AS tokens
             |  FROM documents GROUP BY source, lang)
             |SELECT source, lang, docs, tokens,
             |  round(CAST(tokens AS DOUBLE)/sum(tokens) OVER (), 6)
             |    AS token_share
             |FROM agg ORDER BY source, lang LIMIT 500""".stripMargin)),

    // Sequence packing: docs → fixed-token-budget training sequences,
    // sharded so packing parallelizes; the oracle replays the running
    // token count per shard.
    "d22_pack_sequences" -> Q(
      (s, dir) => Curation.packSequences(
          table(s, dir, "documents"), "doc_id", "text",
          seqTokens = 512, shards = 8)
        .orderBy("doc_id").limit(500),
      Some("""WITH t AS (SELECT doc_id, doc_id % 8 AS shard,
             |    len(string_split(text, ' ')) AS n FROM documents),
             |c AS (SELECT doc_id, shard, n,
             |    sum(n) OVER (PARTITION BY shard ORDER BY doc_id) - n
             |      AS start FROM t)
             |SELECT doc_id, CAST(shard AS BIGINT) AS shard,
             |  CAST(start // 512 AS BIGINT) AS seq_id,
             |  CAST(start % 512 AS BIGINT) AS seq_offset
             |FROM c ORDER BY doc_id LIMIT 500""".stripMargin)),

    // Temperature-reweighted mixture sampling (the mC4/XLM-R
    // rebalancing recipe): per-source keep rate p^(1/T-1), normalized
    // downsample-only, selection by portable-hash threshold. T = 2
    // flattens toward rare sources; the oracle replays shares → rates
    // → the per-doc hash decision.
    "d25_temperature_sample" -> Q(
      (s, dir) => Curation.temperatureSample(
          table(s, dir, "documents"), "source", "doc_id", "text",
          temperature = 2.0)
        .groupBy("source").agg(
          count(lit(1)).as("kept_docs"),
          sum(TextStats.tokenCount(col("text"))).as("kept_tokens"),
          max(col("rate")).as("rate"))
        .orderBy("source"),
      Some(s"""WITH st AS (SELECT source,
              |    sum(len(str_split(text, ' '))) AS toks
              |  FROM documents GROUP BY source),
              |p AS (SELECT source, toks /
              |    CAST((SELECT sum(toks) FROM st) AS DOUBLE) AS p
              |  FROM st),
              |q AS (SELECT source, CASE WHEN p > 0
              |    THEN pow(p, 1.0/2.0 - 1.0) ELSE 0.0 END AS qp FROM p),
              |r AS (SELECT source,
              |    ROUND(qp / (SELECT max(qp) FROM q), 6) AS rate FROM q),
              |kept AS (SELECT d.source, d.doc_id,
              |    len(str_split(d.text, ' ')) AS ntok, r.rate
              |  FROM documents d JOIN r USING (source)
              |  WHERE (${duckHash60("CAST(doc_id AS VARCHAR)")}) % 1000000
              |    < CAST(round(rate * 1000000) AS BIGINT))
              |SELECT source, CAST(count(*) AS BIGINT) AS kept_docs,
              |  CAST(sum(ntok) AS BIGINT) AS kept_tokens, rate
              |FROM kept GROUP BY source, rate
              |ORDER BY source""".stripMargin)),

    // Epoch mixing plan to a target budget (the LLaMA/GPT-3 "source
    // seen E.F epochs" table) — the UPSAMPLING d25 cannot express:
    // sqrt-temperature allocation of 1000 slots over the 20 sources
    // (integer-quantized √n shares, one mirrored division per
    // target), each allocation as full epochs + a hash-threshold
    // fractional remainder. realized_ct = epochs·n_in + n_rem is the
    // materialized mix size per source. Plan frame pinned: it feeds
    // both the remainder filter and the report (the fork rule).
    "d71_mix_epoch_plan" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val plan = Curation.mixEpochPlan(docs, "source",
          targetN = 1000L).localCheckpoint()
        val rem = Curation.mixEpochRemainder(docs, "doc_id", "source",
            plan)
          .groupBy(col("source")).agg(count(lit(1)).as("n_rem"))
        plan.withColumnRenamed("domain", "source")
          .join(rem, Seq("source"), "left")
          .select(col("source"), col("n_in"), col("target_ct"),
            col("epochs"), col("rem_rate_ppm"),
            coalesce(col("n_rem"), lit(0L)).as("n_rem"),
            (col("epochs") * col("n_in") +
              coalesce(col("n_rem"), lit(0L))).as("realized_ct"))
          .orderBy("source")
      },
      Some(s"""WITH ${duckMixEpochCtes(1000)},
              |mk AS (SELECT d.source, CAST(count(*) AS BIGINT)
              |    AS n_rem
              |  FROM documents d JOIN me USING (source)
              |  WHERE (${duckHash60("CAST(doc_id AS VARCHAR)")})
              |    % 1000000 < rem_rate_ppm
              |  GROUP BY d.source)
              |SELECT me.source, me.n_in, me.target_ct, me.epochs,
              |  me.rem_rate_ppm, coalesce(mk.n_rem, 0) AS n_rem,
              |  me.epochs * me.n_in + coalesce(mk.n_rem, 0)
              |    AS realized_ct
              |FROM me LEFT JOIN mk USING (source)
              |ORDER BY source""".stripMargin)),

    // The plan MATERIALIZED (d71 promises, this delivers): epochs
    // full copies of every upsampled domain (map-side explode over
    // the broadcast plan) plus the hash-threshold remainder as
    // epoch_no 0 — the actual "source seen E.F epochs" training
    // stream. Per-domain realized volume is counted FROM THE MIX and
    // audited against the plan's target: |realized − target| =
    // |kept − rem| deviates only by the ppm rounding plus hash-
    // sampling noise, bounded per row by 8 + ⌈4·√(n·p·(1−p))⌉ (a
    // >4σ envelope, deterministic given the data — the oracle
    // recomputes the identical bound, so within_bound is itself
    // cross-engine checked).
    "d74_mix_realized" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val plan = Curation.mixEpochPlan(docs, "source",
          targetN = 1337L).localCheckpoint()
        val mix = Curation.mixRealize(docs, "doc_id", "source", plan)
        val counts = mix.groupBy(col("source"))
          .agg(count(lit(1)).as("realized_ct"),
            sum(when(col("epoch_no") >= 1L, 1L).otherwise(0L))
              .as("n_copies"),
            sum(when(col("epoch_no") === 0L, 1L).otherwise(0L))
              .as("n_rem"))
        plan.withColumnRenamed("domain", "source")
          .join(counts, Seq("source"), "left")
          .withColumn("realized_ct",
            coalesce(col("realized_ct"), lit(0L)))
          .withColumn("dev",
            abs(col("realized_ct") - col("target_ct")))
          .withColumn("_p",
            col("rem_rate_ppm").cast("double") / lit(1e6))
          .withColumn("bound", lit(8L) + ceil(lit(4.0) *
            sqrt(col("n_in").cast("double") * col("_p") *
              (lit(1.0) - col("_p")))).cast("long"))
          .select(col("source"), col("n_in"), col("target_ct"),
            col("epochs"),
            coalesce(col("n_copies"), lit(0L)).as("n_copies"),
            coalesce(col("n_rem"), lit(0L)).as("n_rem"),
            col("realized_ct"), col("dev"), col("bound"),
            (col("dev") <= col("bound")).as("within_bound"))
          .orderBy("source")
      },
      Some(s"""WITH ${duckMixEpochCtes(1337)},
              |mx AS (SELECT d.source, CAST(t.e AS BIGINT) AS epoch_no
              |  FROM documents d JOIN me USING (source),
              |    unnest(generate_series(1, me.epochs)) AS t(e)
              |  WHERE me.epochs >= 1
              |  UNION ALL
              |  SELECT d.source, CAST(0 AS BIGINT)
              |  FROM documents d JOIN me USING (source)
              |  WHERE (${duckHash60("CAST(doc_id AS VARCHAR)")})
              |    % 1000000 < me.rem_rate_ppm),
              |mg AS (SELECT source,
              |    CAST(count(*) AS BIGINT) AS realized_ct,
              |    CAST(count(*) FILTER (WHERE epoch_no >= 1)
              |      AS BIGINT) AS n_copies,
              |    CAST(count(*) FILTER (WHERE epoch_no = 0)
              |      AS BIGINT) AS n_rem
              |  FROM mx GROUP BY source),
              |ma AS (SELECT me.source, me.n_in, me.target_ct,
              |    me.epochs,
              |    coalesce(mg.n_copies, 0) AS n_copies,
              |    coalesce(mg.n_rem, 0) AS n_rem,
              |    coalesce(mg.realized_ct, 0) AS realized_ct,
              |    abs(coalesce(mg.realized_ct, 0) - me.target_ct)
              |      AS dev,
              |    8 + CAST(ceil(4 * sqrt(CAST(me.n_in AS DOUBLE)
              |      * (CAST(me.rem_rate_ppm AS DOUBLE) / 1e6)
              |      * (1 - CAST(me.rem_rate_ppm AS DOUBLE) / 1e6)))
              |      AS BIGINT) AS bound
              |  FROM me LEFT JOIN mg USING (source))
              |SELECT source, n_in, target_ct, epochs, n_copies,
              |  n_rem, realized_ct, dev, bound,
              |  (dev <= bound) AS within_bound
              |FROM ma ORDER BY source""".stripMargin)),

    // DSIR's trained artifact (Xie et al., NeurIPS 2023 — the
    // importance-resampling data selection that shaped GPT-3-style
    // quality subsets): per hashed-bigram bucket, the Laplace-
    // smoothed ln(p_target/p_raw) between the English subset and the
    // whole corpus, as integer micro. Two bounded bucket
    // aggregations + 1-row total fetches + a map-side expression —
    // the result is a 1024-row broadcastable parameter table, staged
    // once and shared with d76 (the winnowKeys discipline). The one
    // transcendental (ln) runs over identical doubles in a pinned
    // operand order (the g6 precedent) and quantizes immediately.
    "d75_dsir_ratios" -> Q(
      (s, dir) => dsirRatiosStaged(s, dir).orderBy("b"),
      Some(s"""WITH $duckDsirCtes
              |SELECT b, t_ct, r_ct, ratio_micro FROM drat
              |ORDER BY b""".stripMargin
        .replace(" AS (", " AS MATERIALIZED ("))),

    // Per-document DSIR importance scores over the staged ratio
    // table: each doc's hashed bigrams join the broadcast artifact
    // and the score is the ORDER-FREE integer-micro sum of its
    // buckets' log ratios (= ln of its importance weight, up to
    // quantization) — resample/threshold by this to shift the raw
    // corpus toward the target distribution. Map-side explode +
    // broadcast join + one doc-keyed aggregation; gram-less docs
    // keep (0, 0).
    "d76_dsir_scores" -> Q(
      (s, dir) => Curation.dsirScores(table(s, dir, "documents"),
          "doc_id", "text", dsirRatiosStaged(s, dir))
        .orderBy("doc_id").limit(2000),
      Some(s"""WITH $duckDsirCtes,
              |$duckDsirDsc
              |SELECT d.doc_id, coalesce(n_grams, 0) AS n_grams,
              |  coalesce(score_micro, 0) AS score_micro
              |FROM documents d LEFT JOIN dsc USING (doc_id)
              |ORDER BY doc_id LIMIT 2000""".stripMargin
        .replace(" AS (", " AS MATERIALIZED ("))),

    // DSIR SELECTION — the resampling step that closes the d75/d76
    // pipeline (train ratios -> score -> select): standard Gumbel
    // noise on each document's log importance weight, top-k keys =
    // sampling without replacement proportional to the weights (the
    // Gumbel-top-k identity), with the noise drawn DETERMINISTICALLY
    // from the portable hash so the draw itself replays in the
    // oracle. One map-side key expression over d76's scores + a
    // global top-k.
    "d78_dsir_select" -> Q(
      (s, dir) => Curation.dsirSelect(table(s, dir, "documents"),
        "doc_id", "text", dsirRatiosStaged(s, dir), k = 100),
      Some(s"""WITH $duckDsirCtes,
              |$duckDsirDsc,
              |$duckDsirDky
              |SELECT doc_id, n_grams, score_micro, gumbel_micro,
              |  score_micro + gumbel_micro AS key_micro
              |FROM dky
              |ORDER BY key_micro DESC, doc_id ASC
              |LIMIT 100""".stripMargin
        .replace(" AS (", " AS MATERIALIZED ("))),

    // Benchmark DECONTAMINATION (GPT-3 appendix C / Dolma): the d18
    // contamination scan COMPLETED into the gate report the pipeline
    // acts on — d18 reports hit docs and their shared-gram counts;
    // this reports EVERY train doc with the gram denominator and the
    // drop boolean, against a deterministic eval slice (doc_id % 97
    // = 0). Shares d18's gram machinery (Curation.wordNgrams + the
    // gram-keyed join) so the two reports cannot drift; the
    // completion adds only a map-side per-row gram count and one
    // null-safe left join.
    "d77_decontaminate" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        Dedup.contaminationReport(
            docs.filter(pmod(col("doc_id"), lit(97L)) =!= 0L),
            "doc_id", "text",
            docs.filter(pmod(col("doc_id"), lit(97L)) === 0L),
            "text", k = 3)
          .withColumnRenamed("id", "doc_id")
          .orderBy("doc_id").limit(2000)
      },
      Some(s"""WITH $duckDecontamCtes
              |SELECT d.doc_id, coalesce(cng.n_grams, 0) AS n_grams,
              |  coalesce(chit.n_hit_grams, 0) AS n_hit_grams,
              |  (coalesce(chit.n_hit_grams, 0) > 0) AS contaminated
              |FROM documents d
              |LEFT JOIN cng USING (doc_id)
              |LEFT JOIN chit USING (doc_id)
              |WHERE d.doc_id % 97 <> 0
              |ORDER BY doc_id LIMIT 2000""".stripMargin
        .replace(" AS (", " AS MATERIALIZED ("))),

    // Batch REPLAY of the decontamination gate (r13 verdict task 2 —
    // the d73/q107 replay discipline, closing the one streaming
    // family member whose replay equivalence was spec-only): d77's
    // train slice splits into 3 deterministic batches, each drives
    // the SAME batch body the stream runs per batch
    // (Dedup.decontaminateBatch over the pinned decontaminateState),
    // and the union of emitted clean ids must equal the one-shot
    // contaminationReport-filtered clean set BIT-FOR-BIT — the
    // standing state is exact and immutable, so unlike the Bloom/KLL
    // replays there is no envelope and no rows-only adjudication:
    // the d77 oracle chain re-derives the clean set and the batch
    // assignment exactly.
    "d79_decontaminate_stream_replay" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val train = docs.filter(pmod(col("doc_id"), lit(97L)) =!= 0L)
        val bg = Dedup.decontaminateState(
          docs.filter(pmod(col("doc_id"), lit(97L)) === 0L),
          "text", k = 3)
        (0L until 3L).map { b =>
          Dedup.decontaminateBatch(
              train.filter(pmod(col("doc_id"), lit(3L)) === b),
              "doc_id", "text", bg, k = 3)
            .select(col("doc_id"), lit(b).as("batch_id"))
        }.reduce(_ unionAll _)
          .orderBy("doc_id").limit(2000)
      },
      Some(s"""WITH $duckDecontamCtes
              |SELECT d.doc_id, d.doc_id % 3 AS batch_id
              |FROM documents d
              |LEFT JOIN chit USING (doc_id)
              |WHERE d.doc_id % 97 <> 0
              |  AND coalesce(chit.n_hit_grams, 0) = 0
              |ORDER BY doc_id LIMIT 2000""".stripMargin
        .replace(" AS (", " AS MATERIALIZED ("))),

    // Batch REPLAY of the streaming DSIR quality gate (the d79
    // discipline applied to the DSIR artifact — completing the
    // stateless-gate pair): documents split into 3 deterministic
    // batches, each scored through the SAME batch body the stream
    // runs per batch (Curation.dsirGateBatch over the staged d75
    // ratio table — exact, immutable, stream-independent state), and
    // the union of emitted gate reports must equal the one-shot
    // d76 scoring filtered at the threshold BIT-FOR-BIT. The oracle
    // replays scoring, threshold, and batch assignment exactly.
    "d80_dsir_gate_replay" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val ratios = dsirRatiosStaged(s, dir)
        (0L until 3L).map { b =>
          Curation.dsirGateBatch(
              docs.filter(pmod(col("doc_id"), lit(3L)) === b),
              "doc_id", "text", ratios, minScoreMicro = 1L)
            .withColumn("batch_id", lit(b))
        }.reduce(_ unionAll _)
          .orderBy("doc_id").limit(2000)
      },
      Some(s"""WITH $duckDsirCtes,
              |$duckDsirDsc
              |SELECT d.doc_id, coalesce(n_grams, 0) AS n_grams,
              |  coalesce(score_micro, 0) AS score_micro,
              |  d.doc_id % 3 AS batch_id
              |FROM documents d LEFT JOIN dsc USING (doc_id)
              |WHERE coalesce(score_micro, 0) >= 1
              |ORDER BY doc_id LIMIT 2000""".stripMargin
        .replace(" AS (", " AS MATERIALIZED ("))),

    // Intra-document repetition (RefinedWeb/Gopher duplicate-n-gram
    // fraction): the quality signal corpus-level dedup can't see.
    // Exact small-int ratio in double — bit-identical cross-engine,
    // no rounding needed.
    "d21_repetition" -> Q(
      (s, dir) => table(s, dir, "documents").select(col("doc_id"),
          TextStats.repeatedNgramFraction(col("text"), 3).as("rep3"),
          TextStats.repeatedNgramFraction(col("text"), 5).as("rep5"))
        .orderBy("doc_id").limit(500),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
             |  FROM documents),
             |g AS (SELECT doc_id,
             |    [array_to_string(toks[i:i+2], ' ')
             |      FOR i IN generate_series(1, greatest(len(toks)-2, 1))]
             |      AS g3,
             |    [array_to_string(toks[i:i+4], ' ')
             |      FOR i IN generate_series(1, greatest(len(toks)-4, 1))]
             |      AS g5
             |  FROM t)
             |SELECT doc_id,
             |  1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3)
             |    AS rep3,
             |  1.0 - CAST(len(list_distinct(g5)) AS DOUBLE) / len(g5)
             |    AS rep5
             |FROM g ORDER BY doc_id LIMIT 500""".stripMargin)),

    // PII scrubbing (emails / URLs / long digit runs → typed tags).
    // The fixtures carry no PII, so the query plants a deterministic
    // synthetic suffix per doc, scrubs it, and the oracle replays both
    // steps (regexes are RE2-compatible so Java and DuckDB agree).
    "d11_pii_scrub" -> Q(
      (s, dir) => {
        val planted = concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com via "),
          lit("https://site.example/p/"), col("doc_id"),
          lit(" or call 555"), col("doc_id") * 10000 + 1234567)
        table(s, dir, "documents").select(col("doc_id"),
            TextStats.scrubPii(planted).as("clean"))
          .orderBy("doc_id").limit(500)
      },
      Some("""SELECT doc_id,
             |  regexp_replace(
             |    regexp_replace(
             |      regexp_replace(
             |        text || ' contact user' || doc_id ||
             |          '@example.com via https://site.example/p/' ||
             |          doc_id || ' or call 555' ||
             |          (doc_id * 10000 + 1234567),
             |        'https?://[^ ]+', '<URL>', 'g'),
             |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
             |      '<EMAIL>', 'g'),
             |    '[0-9]{7,}', '<NUM>', 'g') AS clean
             |FROM documents ORDER BY doc_id LIMIT 500""".stripMargin)),

    // Context-window chunking (window 12 tokens, overlap 4): the
    // tokenizer-stage input shape. One explode per doc, no shuffle.
    "d12_chunk_windows" -> Q(
      (s, dir) => table(s, dir, "documents")
        .select(col("doc_id"),
          explode(TextStats.chunkWindows(col("text"), 12, 4)).as("c"))
        .select(col("doc_id"), col("c.chunk_id"), col("c.chunk_text"))
        .orderBy("doc_id", "chunk_id").limit(2000),
      Some("""WITH t AS (SELECT doc_id, str_split(text, ' ') AS toks
             |  FROM documents),
             |u AS (SELECT doc_id, unnest(list_transform(
             |    generate_series(0, greatest(len(toks) - 4 - 1, 0) // 8),
             |    i -> struct_pack(chunk_id := CAST(i AS BIGINT),
             |      chunk_text := array_to_string(
             |        toks[i*8 + 1 : i*8 + 12], ' ')))) AS c
             |  FROM t)
             |SELECT doc_id, c['chunk_id'] AS chunk_id,
             |  c['chunk_text'] AS chunk_text
             |FROM u ORDER BY doc_id, chunk_id LIMIT 2000""".stripMargin)),

    // End-to-end training-data cleaning: quality gate → exact dedup →
    // bucketed near-dup removal (anti-join on candidate pairs). The
    // composition a 100 TB corpus pipeline actually runs; every stage
    // is partition-parallel and the pair set is bucket-local.
    // The production cleaning composition: quality gate (map-only) →
    // exact dedup (hash groupBy) → LSH-verified near-dup (candidates
    // from portable MinHash bands, exact Jaccard on candidates ONLY —
    // the d15 path, which scales with the candidate count rather than
    // Σ token-df² like the exhaustive d4 all-pairs form) → anti-join
    // dropping each pair's higher id.
    "llm_clean_pipeline" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val quality = docs.filter(TextStats.isQuality(col("text")))
        val exact = Dedup.exactDedup(quality, "doc_id", "text")
        val dupIds = Dedup
          .lshVerifiedJaccardPairs(exact, "doc_id", "text", threshold = 0.6)
          .select(col("id_b").as("doc_id")).distinct()
        // no broadcast hint: dupIds is O(near-dup count), unbounded at
        // 100 TB — AQE broadcasts when it fits
        exact.join(dupIds, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("lang"), col("source"))
          .orderBy("doc_id").limit(2000)
      },
      Some(s"""WITH $duckCleanCtes,
              |dup AS (SELECT DISTINCT id_b FROM vpairs)
              |SELECT doc_id, lang, source FROM exact
              |WHERE doc_id NOT IN (SELECT id_b FROM dup)
              |ORDER BY doc_id LIMIT 2000""".stripMargin)),

    // The round-6 curation showpiece: every new signal composed into
    // one pipeline. Corpus-wide signals first (they must be computed
    // against the FULL corpus — a quality LM or dup-fraction that
    // shifts as you filter is not reproducible): d27's cross-doc
    // dup-n-gram filter, d28's unigram-LM band (keep score_micro >
    // −1.5M ≡ mean log10 p > −1.5 — cuts the rare-token tail), e11's
    // semantic-dup drop set (embeddings ⋈ docs on id). Exact dedup
    // runs LAST over the survivors (keep-min-id among what remains).
    // Each stage is a left-semi/anti join on doc_id — co-partitioned,
    // no broadcast hints (drop sets are corpus fractions, the
    // llm_clean_pipeline argument).
    "llm_curate_full" -> Q(
      (s, dir) =>
        // the instrumented builder: identical result, plus per-stage
        // set-size Observation counters (n-gram keep, LM band keep,
        // semantic drop, survivors) riding the run's own actions, and
        // a fork-point checkpoint that stops exactDedup's self-join
        // from executing the whole upstream twice (the round-7
        // 3.84→6.64 s driver-bench regression was exactly that double
        // execution growing with the corpus's candidate density)
        graft.pipeline.CleanPipeline
          .curateWithCounters(table(s, dir, "documents"),
            table(s, dir, "embeddings"))
          .curated
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .orderBy("doc_id").limit(2000),
      Some(s"""WITH $duckCurateCtes
             |SELECT doc_id, lang, n_chars FROM flt
             |WHERE doc_id IN (SELECT min(doc_id) FROM flt GROUP BY text)
             |ORDER BY doc_id LIMIT 2000""".stripMargin)),

    // PRETRAINING CAPSTONE — the full logs-to-training-shards loop in
    // ONE oracle-checked composition (the g8/q67 capstone move):
    // curate (llm_curate_full's survivors + exact dedup) -> train a
    // 6-merge BPE tokenizer ON THE CURATED CORPUS (d55) -> segment the
    // vocabulary and count per-doc subword tokens (d57's cache join —
    // corpus rows never replay the merge chain) -> serpentine-balance
    // into 8 shards by BPE token weight (d45) -> pack each shard's
    // docs back-to-back into 512-token sequences (d22) and report per
    // shard. Every stage replays in the oracle's single CTE chain, so
    // a seam between any two stages breaks the hash.
    "llm_pretrain_full" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val emb = table(s, dir, "embeddings")
        // checkpoint: the curated frame feeds BOTH the tokenizer
        // trainer and the doc-token join; without it the whole
        // curation chain would execute once per consumer
        val curated = graft.pipeline.CleanPipeline.curate(docs, emb)
          .localCheckpoint()
        val vocab = graft.pipeline.Bpe.segmentVocab(
          curated.select(col("text")), "text", rounds = 6)
        val occ = graft.pipeline.ExprUtils.spread(curated)
          .select(col("doc_id"),
            explode(split(col("text"), " ")).as("w"))
          .filter(col("w").rlike("^[a-z0-9]+$"))
        val perDocTok = occ
          .join(vocab.select(col("w"), col("n_subwords")), "w")
          .groupBy("doc_id").agg(sum(col("n_subwords")).as("bt"))
        val perDoc = curated.select("doc_id")
          .join(perDocTok, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("bt"), lit(0L)).as("bpe_tokens"))
        Curation.packedShardReport(perDoc, "doc_id",
            col("bpe_tokens"), nShards = 8, seqTokens = 512)
          .orderBy("shard")
      },
      Some(s"""WITH $duckCurateCtes,
             |cur AS (SELECT doc_id, text FROM flt
             |  WHERE doc_id IN (SELECT min(doc_id) FROM flt
             |                   GROUP BY text)),
             |${bpeChainCtes(6, "cur")},
             |dw AS (SELECT doc_id, u.w AS w
             |  FROM (SELECT doc_id, str_split(text, ' ') AS ts
             |        FROM cur) c, unnest(ts) AS u(w)
             |  WHERE regexp_full_match(u.w, '[a-z0-9]+')),
             |seg AS (SELECT w,
             |    CAST(len(str_split(trim(enc, '()'), ')(')) AS BIGINT)
             |      AS nsub FROM v6),
             |dtok AS (SELECT c.doc_id, COALESCE(sm.bt, 0) AS bt
             |  FROM cur c LEFT JOIN (
             |    SELECT dw.doc_id, CAST(SUM(seg.nsub) AS BIGINT) AS bt
             |    FROM dw JOIN seg USING (w) GROUP BY dw.doc_id) sm
             |  ON sm.doc_id = c.doc_id),
             |rk AS (SELECT doc_id, bt, CAST(row_number() OVER
             |    (ORDER BY bt DESC, doc_id ASC) AS BIGINT) AS rn
             |  FROM dtok),
             |sa AS (SELECT doc_id, bt, CASE WHEN (rn - 1) % 16 < 8
             |    THEN (rn - 1) % 16 ELSE 15 - ((rn - 1) % 16) END
             |      AS shard FROM rk),
             |pk AS (SELECT shard, doc_id, bt,
             |    SUM(bt) OVER (PARTITION BY shard ORDER BY doc_id)
             |      - bt AS strt
             |  FROM sa)
             |SELECT CAST(shard AS BIGINT) AS shard,
             |  CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(SUM(bt) AS BIGINT) AS total_tokens,
             |  CAST(count(DISTINCT strt // 512) AS BIGINT)
             |    AS n_start_seqs
             |FROM pk GROUP BY shard ORDER BY shard""".stripMargin)),

    // SELECTION CAPSTONE (r13 verdict task 4) — the
    // train→score→select→pack path a pretraining data team runs as
    // ONE job, composed from the verified stages (the llm_curate_full
    // discipline): d75's staged ratio artifact trains once per
    // corpus, d76's map-side scoring prices every document, d78's
    // deterministic Gumbel top-k resamples 100 docs without
    // replacement ∝ importance weight, and d22's sharded packer lays
    // the selected docs into 512-token training sequences. Counters
    // ride every stage (ratio-table rows, scored docs via an
    // Observation on the scoring frame, selected k, packed
    // sequences). Every stage replays in the oracle's single CTE
    // chain, so a seam between any two stages breaks the hash. The
    // selection is 100 rows by construction, so the text join and
    // the final annotation join both broadcast — corpus-sized work
    // is exactly one scoring pass, as in d78.
    "llm_select_full" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val ratios = dsirRatiosStaged(s, dir)
        val obsScored = graft.ops.Counters.register("llm_select_full",
          "scored", org.apache.spark.sql.Observation(
            "llm_select_full_scored"))
        // fork point: the k-row selection feeds BOTH the text join
        // and the final annotation join — pin it so the corpus
        // scoring pass runs once (the llm_curate_full fork rule)
        val sel = Curation.dsirSelect(docs, "doc_id", "text", ratios,
          k = 100, observeScored = Some(obsScored)).localCheckpoint()
        val selTexts = docs.select(col("doc_id"), col("text"))
          .join(broadcast(sel.select(col("doc_id"))), "doc_id")
        val packed = Curation.packSequences(selTexts, "doc_id",
            "text", seqTokens = 512, shards = 4)
          .join(broadcast(sel.select(col("doc_id"),
            col("score_micro"), col("key_micro"))), "doc_id")
          .select(col("doc_id"), col("score_micro"), col("key_micro"),
            col("shard"), col("seq_id"), col("seq_offset"))
          .localCheckpoint() // bounded: k rows; lets the seq count
                             // below reuse it instead of re-scanning
        graft.ops.Counters.note("llm_select_full", "stage", Map(
          "ratio_rows" -> ratios.count(), "selected" -> sel.count(),
          "seqs" -> packed.select("shard", "seq_id").distinct()
            .count()))
        packed.orderBy("doc_id")
      },
      Some(s"""WITH $duckDsirCtes,
              |$duckDsirDsc,
              |$duckDsirDky,
              |sel AS (SELECT doc_id, score_micro,
              |    score_micro + gumbel_micro AS key_micro
              |  FROM dky
              |  ORDER BY key_micro DESC, doc_id ASC LIMIT 100),
              |sp AS (SELECT s.doc_id, s.score_micro, s.key_micro,
              |    s.doc_id % 4 AS shard,
              |    len(str_split(d.text, ' ')) AS n
              |  FROM sel s JOIN documents d USING (doc_id)),
              |pc AS (SELECT doc_id, score_micro, key_micro, shard,
              |    sum(n) OVER (PARTITION BY shard ORDER BY doc_id)
              |      - n AS strt
              |  FROM sp)
              |SELECT doc_id, score_micro, key_micro,
              |  CAST(shard AS BIGINT) AS shard,
              |  CAST(strt // 512 AS BIGINT) AS seq_id,
              |  CAST(strt % 512 AS BIGINT) AS seq_offset
              |FROM pc ORDER BY doc_id""".stripMargin
        .replace(" AS (", " AS MATERIALIZED ("))),

    // The transitive-cluster twin of llm_clean_pipeline: near-dup
    // removal keeps each CONNECTED COMPONENT's minimum id instead of
    // dropping the higher id of every pair. Pairwise removal is
    // non-transitive — with pairs (b,c) and (a,c) it keeps both a and
    // b even though all three are one near-dup cluster; components
    // keep exactly one representative per cluster, the semantics a
    // production dedup stage wants. The oracle replays the whole
    // pipeline INCLUDING the cluster closure (recursive CTE).
    "llm_clean_cc" -> Q(
      (s, dir) =>
        // the instrumented builder: identical result, plus per-stage
        // kept/dropped Observation counters riding the run's own
        // actions (ObservationSpec pins the counter semantics) and
        // fork-point checkpoints that stop the scan→gate→dedup prefix
        // re-executing once per consumer
        graft.pipeline.CleanPipeline
          .ccWithCounters(table(s, dir, "documents"), threshold = 0.6)
          .cleaned.orderBy("doc_id").limit(2000),
      Some(s"""WITH RECURSIVE $duckCleanCtes,
             |cedges AS (SELECT id_a AS a, id_b AS b FROM vpairs
             |  UNION SELECT id_b, id_a FROM vpairs),
             |reach(s, d) AS (
             |  SELECT a, b FROM cedges
             |  UNION
             |  SELECT r.s, e.b FROM reach r JOIN cedges e ON e.a = r.d),
             |comp AS (SELECT s AS id, least(s, min(d)) AS component
             |  FROM reach GROUP BY s)
             |SELECT doc_id, lang, source FROM exact
             |WHERE doc_id NOT IN (SELECT id FROM comp WHERE id <> component)
             |ORDER BY doc_id LIMIT 2000""".stripMargin)),

    // ---- LLM-data-pipeline: embedding similarity search ---------------
    "e1_cosine_topk" -> Q(
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
        // parameter fetch: the single query vector (bounded, not a
        // distributed-data collect)
        val q = vec0(emb)
        val scored = emb.select(col("vec_id"),
          Similarity.cosine(Similarity.toDouble(col("embedding")),
            typedlit(q)).as("cosine"))
        scored.select(col("vec_id"), round(col("cosine"), 6).as("cosine"))
          .orderBy(col("cosine").desc, col("vec_id").asc).limit(20)
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             |  FROM embeddings),
             |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
             |s AS (SELECT vec_id, list_dot_product(v, qv)
             |    / (sqrt(list_dot_product(v, v))
             |       * sqrt(list_dot_product(qv, qv))) AS cosine
             |  FROM e, q)
             |SELECT vec_id, ROUND(cosine, 6) AS cosine FROM s
             |ORDER BY ROUND(cosine, 6) DESC, vec_id LIMIT 20""".stripMargin)),

    "d8_token_regex" -> Q(
      (s, dir) => table(s, dir, "documents").select(col("doc_id"),
          size(split(col("text"), "\\W+")).cast("long")
            .as("n_regex_tokens"),
          size(split(col("text"), " ")).cast("long").as("n_ws_tokens"))
        .orderBy("doc_id").limit(500),
      Some("""SELECT doc_id,
             |  CAST(len(regexp_split_to_array(text, '\W+')) AS BIGINT)
             |    AS n_regex_tokens,
             |  CAST(len(str_split(text, ' ')) AS BIGINT) AS n_ws_tokens
             |FROM documents ORDER BY doc_id LIMIT 500""".stripMargin)),

    // ANN variants with data-derived parameters (centroids/planes are
    // embedding rows fetched by id — deterministic, so the DuckDB
    // oracle recomputes cell assignment, probing, and rerank exactly).
    // The seeded-RNG variants stay available in Similarity for
    // production use; SimilaritySpec covers both.
    "e4_ivf_topk" -> Q(
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
        val q = vec0(emb)
        Similarity.ivfTopKData(emb, "vec_id", "embedding", q, k = 20,
          centroidIds = (1L to 16L))
      },
      Some(duckIvfTopkSql)),

    // ---- E5: the on-disk IVF index. Same semantics as e4 (identical
    // oracle — the LAYOUT must not change the answer), but the probe
    // reads only the probed cells' directories: the cell predicate is
    // a PartitionFilter, unprobed partitions are never opened. -------
    "e5_ivf_indexed" -> Q(
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
        val q = vec0(emb)
        val idxPath = Staged.dir(s, "e5", dir) { p =>
          Similarity.writeIvfIndex(emb, "vec_id", "embedding", p,
            centroidIds = (1L to 16L))
        }
        Similarity.ivfTopKIndexed(s, idxPath, "vec_id", "embedding", q,
          k = 20, centroidIds = (1L to 16L))
      },
      Some(duckIvfTopkSql)),

    "e3_embedding_neardup" -> Q(
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
        val hp = signPlanes(emb)
        Dedup.embeddingNearDupPairsWith(emb, "vec_id", "embedding", hp)
          .orderBy(col("cosine").desc, col("id_a").asc, col("id_b").asc)
          .limit(100)
      },
      Some(s"""WITH $duckNrmBucketCtes
             |SELECT a.vec_id AS id_a, c.vec_id AS id_b,
             |  ROUND(list_dot_product(na.nv, nc.nv), 6) AS cosine
             |FROM b a JOIN b c ON a.bucket = c.bucket
             |  AND a.vec_id < c.vec_id
             |JOIN nrm na ON na.vec_id = a.vec_id
             |JOIN nrm nc ON nc.vec_id = c.vec_id
             |ORDER BY cosine DESC, id_a, id_b LIMIT 100""".stripMargin)),

    // SemDeDup (Abbas et al. 2023): the kept corpus after semantic
    // dedup — bucket by sign-bit LSH, drop every vector with a
    // smaller-id same-bucket neighbor above the cosine threshold.
    // 0.4 is data-scaled (the synthetic embeddings are near-orthogonal;
    // max bucket-local cosine at sf0.01 is 0.49) — 12 vectors drop.
    "e11_semdedup" -> Q(
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
        val hp = signPlanes(emb)
        Dedup.semanticDedupKeep(emb, "vec_id", "embedding", hp,
            minCosine = 0.4)
          .select(col("vec_id"), col("label"))
          .orderBy("vec_id").limit(5000)
      },
      Some(s"""WITH $duckSemDupCtes
             |SELECT vec_id, label FROM embeddings
             |WHERE vec_id NOT IN (SELECT did FROM dr)
             |ORDER BY vec_id LIMIT 5000""".stripMargin)),

    // Hard-negative mining (contrastive-training data prep): per
    // anchor, the top-8 highest-cosine DIFFERENT-label candidates from
    // a portable-hash-sampled pool (1/8 of the corpus per anchor).
    // One corpus scan; bounded TopK aggregation instead of a window.
    "e12_hard_negatives" -> Q(
      (s, dir) => Similarity.hardNegatives(
          table(s, dir, "embeddings"), "vec_id", "embedding", "label",
          anchorIds = Seq(0L, 1L, 2L, 3L, 4L), samplePeriod = 8, k = 8)
        .orderBy(col("anchor_id"), col("cosine").desc, col("cand_id")),
      Some(s"""WITH e AS (SELECT vec_id, label,
              |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
              |nrm AS (SELECT vec_id, label,
              |    list_transform(v, x -> x / sqrt(list_dot_product(v, v)))
              |      AS nv
              |  FROM e),
              |q AS (SELECT vec_id AS qid, label AS qlabel, nv AS qv
              |  FROM nrm WHERE vec_id IN (0, 1, 2, 3, 4)),
              |cand AS (SELECT qid,
              |    c.vec_id AS cand_id,
              |    ROUND(list_dot_product(qv, c.nv), 6) AS cosine
              |  FROM q JOIN nrm c ON c.label <> qlabel
              |    AND c.vec_id NOT IN (0, 1, 2, 3, 4)
              |    AND (${duckHash60(
                     "CAST(qid AS VARCHAR) || ':' || " +
                       "CAST(c.vec_id AS VARCHAR)")}) % 8 = 0),
              |r AS (SELECT qid AS anchor_id, cand_id, cosine,
              |    row_number() OVER (PARTITION BY qid
              |      ORDER BY cosine DESC, cand_id) AS rn
              |  FROM cand)
              |SELECT anchor_id, cand_id, cosine FROM r WHERE rn <= 8
              |ORDER BY anchor_id, cosine DESC, cand_id""".stripMargin)),

    // Embedding-outlier pruning: the 50 vectors least similar to their
    // own source's centroid (documents ⋈ embeddings on id). Centroid
    // components are micro-unit integer sums — order-independent —
    // so the whole pass replays exactly in SQL. The oracle's
    // generate_series(1, 64) pins the fixture dim (DuckDB lacks
    // lateral len(v) there); Spark derives it from the array itself.
    "e13_centroid_outliers" -> Q(
      (s, dir) => {
        val joined = table(s, dir, "embeddings")
          .join(table(s, dir, "documents"),
            col("doc_id") === col("vec_id"))
          .select(col("vec_id"), col("source"), col("embedding"))
        Similarity.centroidOutliers(joined, "vec_id", "embedding",
          "source", k = 50)
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             |  FROM embeddings),
             |j AS (SELECT vec_id, source, v
             |  FROM e JOIN documents ON doc_id = vec_id),
             |dx AS (SELECT source, g.i - 1 AS dim,
             |    CAST(ROUND(v[g.i] * 1e6) AS BIGINT) AS mx
             |  FROM j, generate_series(1, 64) AS g(i)),
             |c AS (SELECT source, dim,
             |    CAST(SUM(mx) AS DOUBLE) / (1e6 * COUNT(*)) AS c
             |  FROM dx GROUP BY 1, 2),
             |cent AS (SELECT source, list(c ORDER BY dim) AS centroid
             |  FROM c GROUP BY source)
             |SELECT j.vec_id, j.source,
             |  ROUND(list_dot_product(j.v, centroid) /
             |    (sqrt(list_dot_product(j.v, j.v)) *
             |     sqrt(list_dot_product(centroid, centroid))), 6)
             |    AS cosine
             |FROM j JOIN cent USING (source)
             |ORDER BY cosine, vec_id LIMIT 50""".stripMargin)),

    "e2_ann_lsh_topk" -> Q(
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
        val q = vec0(emb)
        val hp = signPlanes(emb)
        Similarity.annTopKWith(emb, "vec_id", "embedding", q, k = 20, hp)
      },
      Some(duckAnnTopkSql("b.bucket = qb.qbucket"))),

    // Multi-probe ANN: same data-derived planes as e2, but the scan
    // covers every bucket within Hamming distance 1 of the query's —
    // the recall-recovery path for borderline sign flips. The oracle
    // widens its bucket predicate identically (bit_count(xor) <= 1).
    "e7_ann_multiprobe" -> Q(
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
        val q = vec0(emb)
        val hp = signPlanes(emb)
        Similarity.annTopKWith(emb, "vec_id", "embedding", q, k = 20, hp,
          probeHamming = 1)
      },
      Some(duckAnnTopkSql("bit_count(xor(b.bucket, qb.qbucket)) <= 1"))),

    // Batch kNN join: top-5 neighbors for five query vectors in ONE
    // bucket-keyed equi-join over Hamming-1 probe buckets, per-query
    // top-k via a rank-filtered window (WindowGroupLimit). The oracle
    // expresses the same candidate set with a bit_count(xor) predicate.
    "e8_knn_join" -> Q(
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
        val hp = signPlanes(emb)
        val queries = emb.filter(col("vec_id").between(10, 14))
        Similarity.knnJoin(queries, emb, "vec_id", "embedding", k = 5,
            hp, probeHamming = 1)
          .orderBy("query_id", "rnk").limit(100)
      },
      Some(s"""WITH $duckAnnBucketCtes,
             |q AS (SELECT e.vec_id AS query_id, e.v AS qv,
             |    b.bucket AS qb
             |  FROM e JOIN b USING (vec_id)
             |  WHERE e.vec_id BETWEEN 10 AND 14),
             |s AS (SELECT q.query_id, cb.vec_id AS neighbor_id,
             |    ROUND(list_dot_product(e.v, q.qv)
             |      / (sqrt(list_dot_product(e.v, e.v))
             |         * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine
             |  FROM q JOIN b cb ON bit_count(xor(cb.bucket, q.qb)) <= 1
             |  JOIN e ON e.vec_id = cb.vec_id),
             |r AS (SELECT query_id, neighbor_id, cosine,
             |    CAST(row_number() OVER (PARTITION BY query_id
             |      ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rnk
             |  FROM s)
             |SELECT query_id, neighbor_id, cosine, rnk FROM r
             |WHERE rnk <= 5 ORDER BY query_id, rnk LIMIT 100"""
        .stripMargin)),

    // Recall@k self-audit of the Hamming<=1 LSH ANN (e8's knnJoin)
    // against the exact brute-force ranking — the index-quality
    // measurement an engine runs on its own corpus: both sides rank
    // by the same rounded cosine with id tie-break and exclude the
    // trivial self-match BEFORE the cut, so the sets compare
    // element-for-element. The exact side is honest brute force on a
    // BOUNDED probe set (probe vectors ride a literal into a map-only
    // explode — no join node); its cost bounds P, never the corpus.
    "e15_ann_recall_audit" -> Q(
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
        val hp = signPlanes(emb)
        Similarity.annRecallAudit(emb, "vec_id", "embedding",
          queryIds = Seq(10L, 11L, 12L, 13L, 14L), k = 10, hp,
          probeHamming = 1)
      },
      Some(s"""WITH $duckAnnBucketCtes,
             |q AS (SELECT e.vec_id AS query_id, e.v AS qv,
             |    b.bucket AS qb
             |  FROM e JOIN b USING (vec_id)
             |  WHERE e.vec_id IN (10, 11, 12, 13, 14)),
             |anns AS (SELECT query_id, neighbor_id FROM (
             |    SELECT q.query_id, cb.vec_id AS neighbor_id,
             |      row_number() OVER (PARTITION BY q.query_id
             |        ORDER BY ROUND(list_dot_product(e.v, q.qv)
             |          / (sqrt(list_dot_product(e.v, e.v))
             |             * sqrt(list_dot_product(q.qv, q.qv))), 6)
             |          DESC, cb.vec_id) AS rnk
             |    FROM q JOIN b cb
             |      ON bit_count(xor(cb.bucket, q.qb)) <= 1
             |    JOIN e ON e.vec_id = cb.vec_id
             |    WHERE cb.vec_id <> q.query_id) sa
             |  WHERE rnk <= 10),
             |exr AS (SELECT query_id, neighbor_id FROM (
             |    SELECT q.query_id, e.vec_id AS neighbor_id,
             |      row_number() OVER (PARTITION BY q.query_id
             |        ORDER BY ROUND(list_dot_product(e.v, q.qv)
             |          / (sqrt(list_dot_product(e.v, e.v))
             |             * sqrt(list_dot_product(q.qv, q.qv))), 6)
             |          DESC, e.vec_id) AS rnk
             |    FROM q, e WHERE e.vec_id <> q.query_id) sx
             |  WHERE rnk <= 10),
             |hits AS (SELECT x.query_id,
             |    CAST(count(*) AS BIGINT) AS n_hit
             |  FROM exr x JOIN anns a
             |    ON a.query_id = x.query_id
             |   AND a.neighbor_id = x.neighbor_id
             |  GROUP BY x.query_id),
             |nex AS (SELECT query_id,
             |    CAST(count(*) AS BIGINT) AS n_exact
             |  FROM exr GROUP BY query_id)
             |SELECT nex.query_id, n_exact,
             |  coalesce(h.n_hit, CAST(0 AS BIGINT)) AS n_hit,
             |  (1000000 * coalesce(h.n_hit, CAST(0 AS BIGINT)))
             |    // n_exact AS recall_micro
             |FROM nex LEFT JOIN hits h USING (query_id)
             |ORDER BY query_id""".stripMargin)),

    // Int8 scalar quantization fidelity probe: quantize every
    // embedding (per-vector scale = max|x|/127, tinyint codes),
    // reconstruct, exact-cosine top-k over the reconstructions — the
    // 4-bytes→1-byte storage path for vector corpora. The oracle
    // replays quantize+dequantize in SQL, so the fixed-point round
    // trip is value-exact cross-engine.
    "e9_quantized_topk" -> Q(
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
        val q = vec0(emb)
        Similarity.quantizedTopK(emb, "vec_id", "embedding", q, k = 20)
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             |  FROM embeddings),
             |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
             |sc AS (SELECT vec_id, v,
             |    list_max(list_transform(v, x -> abs(x))) / 127.0 AS s
             |  FROM e),
             |dq AS (SELECT vec_id,
             |    list_transform(v, x -> CASE WHEN s > 0
             |      THEN round(x / s) * s ELSE 0.0 END) AS vq
             |  FROM sc),
             |c AS (SELECT vec_id, ROUND(list_dot_product(vq, qv)
             |    / (sqrt(list_dot_product(vq, vq))
             |       * sqrt(list_dot_product(qv, qv))), 6) AS cosine
             |  FROM dq, q)
             |SELECT vec_id, cosine FROM c
             |ORDER BY cosine DESC, vec_id ASC LIMIT 20""".stripMargin)),

    // Product quantization + asymmetric distance (Jégou et al. 2011):
    // 64 dims → 4 subspaces × data-derived subcodebooks; codes from
    // argmin L2² (rounded, ties to lowest centroid), ranking by the
    // per-query ADC table folded into the scan as literals. The
    // oracle replays encode AND ADC, with the 4-term total summed in
    // fixed subspace order to match the engine's fold.
    "e10_pq_adc_topk" -> Q(
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
        val q = vec0(emb)
        Similarity.pqTopK(emb, "vec_id", "embedding", q, k = 20,
          centroidIds = Seq(1L, 2L, 3L, 4L), m = 4)
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             |  FROM embeddings),
             |cb AS (SELECT vec_id AS cid, v AS cv FROM e
             |  WHERE vec_id IN (1, 2, 3, 4)),
             |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
             |js AS (SELECT j FROM generate_series(0, 3) AS g(j)),
             |enc AS (SELECT e.vec_id, js.j, cb.cid,
             |    ROUND(list_dot_product(sv, sv)
             |      - 2 * list_dot_product(sv, cs)
             |      + list_dot_product(cs, cs), 6) AS d2
             |  FROM e CROSS JOIN js CROSS JOIN cb,
             |  LATERAL (SELECT e.v[js.j*16+1 : js.j*16+16] AS sv,
             |           cb.cv[js.j*16+1 : js.j*16+16] AS cs) t),
             |codes AS (SELECT vec_id, j, cid FROM (
             |    SELECT vec_id, j, cid, row_number() OVER (
             |      PARTITION BY vec_id, j ORDER BY d2, cid) AS rn
             |    FROM enc) r WHERE rn = 1),
             |pj AS (SELECT c.vec_id, c.j,
             |    list_dot_product(qs, qs) - 2 * list_dot_product(qs, cs)
             |      + list_dot_product(cs, cs) AS t
             |  FROM codes c JOIN cb ON cb.cid = c.cid CROSS JOIN q,
             |  LATERAL (SELECT q.qv[c.j*16+1 : c.j*16+16] AS qs,
             |           cb.cv[c.j*16+1 : c.j*16+16] AS cs) l),
             |adc AS (SELECT vec_id,
             |    ROUND(sum(CASE WHEN j = 0 THEN t ELSE 0 END)
             |        + sum(CASE WHEN j = 1 THEN t ELSE 0 END)
             |        + sum(CASE WHEN j = 2 THEN t ELSE 0 END)
             |        + sum(CASE WHEN j = 3 THEN t ELSE 0 END), 6)
             |      AS adc_dist2
             |  FROM pj GROUP BY vec_id)
             |SELECT vec_id, adc_dist2 FROM adc
             |ORDER BY adc_dist2 ASC, vec_id ASC LIMIT 20""".stripMargin)),

    // BM25 corpus search (Robertson k1=1.2/b=0.75, Lucene idf): the
    // lexical-retrieval shape of a curation pipeline. Postings are
    // filtered to the query vocabulary BEFORE any shuffle; idf/stats
    // broadcast; score rounded before the top-k cut.
    "r1_bm25_topk" -> Q(
      (s, dir) => Retrieval.bm25TopK(table(s, dir, "documents"),
          "doc_id", "text", Seq("vector", "hash", "merge"), k = 20)
        .select(col("id").as("doc_id"), col("bm25")),
      Some(s"""WITH $duckBm25Ctes,
             |sc AS (SELECT p.id,
             |    sum(i.idf * p.tf * 2.2
             |      / (p.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / i.avgdl)))
             |      AS s
             |  FROM p JOIN i USING (term) JOIN l ON l.id = p.id
             |  GROUP BY p.id)
             |SELECT id AS doc_id, ROUND(s, 6) AS bm25 FROM sc
             |ORDER BY bm25 DESC, doc_id ASC LIMIT 20""".stripMargin)),

    // Hybrid retrieval: BM25 top-50 fused with embedding-cosine
    // top-50 (documents and embeddings are id-aligned) by reciprocal
    // rank — rank-only fusion, robust to incomparable score scales.
    // Both input lists are top-n bounded, so the fusion is list-sized.
    // MMR diversified top-k (Carbonell & Goldstein, SIGIR 1998): the
    // re-rank after ANN that stops near-duplicate neighbors crowding
    // the list. Relevance and pairwise cosines quantize to MICRO
    // integers per value and λ rides as tenths, so every greedy
    // step's argmax is an exact integer comparison; the oracle
    // replays all 10 steps as unrolled chained CTEs over the 50-row
    // re-rank window (the d55 iterative-top-1 discipline).
    "r3_mmr_diversified" -> Q(
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
        val q = vec0(emb)
        Retrieval.mmrTopK(emb.filter(col("vec_id") =!= 0), "vec_id",
            "embedding", q, k = 10, pool = 50)
          .orderBy("mmr_rank")
      },
      Some {
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           |  FROM embeddings),
           |nn AS (SELECT vec_id, list_transform(v,
           |    x -> x / sqrt(list_dot_product(v, v))) AS nv FROM e),
           |qv AS (SELECT nv AS q FROM nn WHERE vec_id = 0),
           |cand AS (SELECT vec_id, nv,
           |    CAST(round(1e6 * list_dot_product(nv, q)) AS BIGINT)
           |      AS rel_m
           |  FROM nn, qv WHERE vec_id <> 0
           |  ORDER BY rel_m DESC, vec_id LIMIT 50),
           |${duckMmrTail(10)}""".stripMargin
          // force CTE materialization: every step references cand/cp
          // and the selected-set unions re-reference every prior step
          // — DuckDB's default inlining would re-run the embedding
          // scan per reference (it actually exhausts file handles)
          .replace(" AS (", " AS MATERIALIZED (")
      }),

    // RM3 pseudo-relevance feedback (Lavrenko & Croft 2001, the Indri
    // recipe in rank-weighted integer form): r1's BM25 top-10 mined
    // for the 5 terms with the highest rank-discounted term frequency
    // Σ tf·(11−rank) (integer-exact, originals excluded), then BM25
    // re-run with the expanded query — the recall lever a curation
    // pipeline uses to grow a seed set. Oracle replays both rounds
    // and the expansion derivation in one chain.
    "r4_rm3_expansion" -> Q(
      (s, dir) => Retrieval.rm3TopK(table(s, dir, "documents"),
          "doc_id", "text", Seq("vector", "hash", "merge"), k = 20,
          feedbackDocs = 10, expansion = 5)
        .select(col("id").as("doc_id"), col("bm25")),
      Some {
        // one BM25 scoring round `s$r` over the terms `in`
        def bm25Round(r: Int, in: String): String =
          s"""p$r AS (SELECT doc_id AS id, t AS term,
             |    CAST(count(*) AS BIGINT) AS tf
             |  FROM tok WHERE t IN $in
             |  GROUP BY id, t),
             |i$r AS (SELECT term,
             |    ln(1.0 + (n_docs - df + 0.5)/(df + 0.5)) AS idf,
             |    avgdl
             |  FROM (SELECT term, count(*) AS df FROM p$r
             |        GROUP BY term)
             |  CROSS JOIN st),
             |s$r AS (SELECT p$r.id,
             |    sum(i$r.idf * p$r.tf * 2.2
             |      / (p$r.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl
             |        / i$r.avgdl))) AS s
             |  FROM p$r JOIN i$r USING (term) JOIN l ON l.id = p$r.id
             |  GROUP BY p$r.id)""".stripMargin
        s"""WITH tok AS (SELECT doc_id,
             |    unnest(str_split(text, ' ')) AS t FROM documents),
             |l AS (SELECT doc_id AS id, len(str_split(text, ' '))
             |    AS dl FROM documents),
             |st AS (SELECT count(*) AS n_docs,
             |    CAST(sum(len(str_split(text, ' '))) AS DOUBLE)
             |      / count(*) AS avgdl
             |  FROM documents),
             |${bm25Round(1, "('vector', 'hash', 'merge')")},
             |t1 AS (SELECT id, ROUND(s, 6) AS bm25 FROM s1
             |  ORDER BY bm25 DESC, id ASC LIMIT 10),
             |tr AS (SELECT id, CAST(row_number() OVER (
             |    ORDER BY bm25 DESC, id ASC) AS BIGINT) AS rnk
             |  FROM t1),
             |ex AS (SELECT tok.t AS term,
             |    CAST(sum(11 - tr.rnk) AS BIGINT) AS w
             |  FROM tok JOIN tr ON tr.id = tok.doc_id
             |  WHERE tok.t NOT IN ('vector', 'hash', 'merge')
             |  GROUP BY tok.t ORDER BY w DESC, term ASC LIMIT 5),
             |qt AS (SELECT term FROM ex UNION ALL
             |       SELECT unnest(['vector', 'hash', 'merge'])),
             |${bm25Round(2, "(SELECT term FROM qt)")}
             |SELECT id AS doc_id, ROUND(s, 6) AS bm25 FROM s2
             |ORDER BY bm25 DESC, doc_id ASC
             |LIMIT 20""".stripMargin
      }),

    // IVF-probed MMR — the production ANN -> diversified-re-rank
    // composition: the pool feeding r3's greedy is e4's probed cells
    // (nProbes/nCells of the corpus at scale), not a corpus-wide
    // scan. Same shared greedy tail as r3, so pool construction is
    // the ONLY difference an oracle mismatch could blame.
    "e16_ivf_mmr" -> Q(
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
        val q = vec0(emb)
        val pool = Similarity.ivfProbedCandidatesData(emb, "vec_id",
            "embedding", q, centroidIds = (1L to 16L))
          .filter(col("vec_id") =!= 0)
        Retrieval.mmrTopK(pool, "vec_id", "embedding", q,
            k = 10, pool = 50)
          .orderBy("mmr_rank")
      },
      Some {
        s"""WITH $duckIvfProbeCtes,
           |pc AS (SELECT vec_id FROM asg
           |  WHERE rn = 1 AND cid IN (SELECT cid FROM probe)
           |    AND vec_id <> 0),
           |nn AS (SELECT e.vec_id, list_transform(v,
           |    x -> x / sqrt(list_dot_product(v, v))) AS nv
           |  FROM e JOIN pc USING (vec_id)),
           |qn AS (SELECT list_transform(qv,
           |    x -> x / sqrt(list_dot_product(qv, qv))) AS q2 FROM q),
           |cand AS (SELECT vec_id, nv,
           |    CAST(round(1e6 * list_dot_product(nv, q2)) AS BIGINT)
           |      AS rel_m
           |  FROM nn, qn
           |  ORDER BY rel_m DESC, vec_id LIMIT 50),
           |${duckMmrTail(10)}""".stripMargin
          .replace(" AS (", " AS MATERIALIZED (")
      }),

    // Exact upper-triangle covariance of the embedding columns — the
    // anisotropy audit behind every cosine-ranked entry: a few
    // dominant directions mean ANN similarity is driven by a rotten
    // subspace. Micro-quantized components, MAP-SIDE upper-triangle
    // term generation from each row's own vector (no join, no
    // pre-aggregation shuffle), decimal co-moments, and an INTEGER-
    // micro cell: round 11's ROUND-6 double lost the hash to DuckDB's
    // −0.0 on one tiny-negative cell (C-library round keeps the IEEE
    // sign; Spark's BigDecimal round cannot) — integer zero is
    // signless (the d28 house rule).
    "e17_embedding_covariance" -> Q(
      (s, dir) => covarianceStaged(s, dir).orderBy("i", "j"),
      Some(s"""WITH $duckCovMomentCtes
             |SELECT i, j, n_vecs,
             |  CAST(round(CAST(n_vecs * sxy - sx * sy AS DOUBLE)
             |    / (CAST(n_vecs AS DOUBLE) * n_vecs * 1e6)) AS BIGINT)
             |    AS cov_micro
             |FROM ag ORDER BY i, j""".stripMargin)),

    // Dominant covariance direction (power iteration, 5 steps) — the
    // second half of e17's anisotropy audit: the direction carrying
    // the off-diagonal mass and its eigenvalue share (Mu & Viswanath,
    // ICLR 2018: removing these directions repairs cosine geometry).
    // Distributed work = the e17 matrix; the d² cells are then a
    // bounded parameter and each iteration is exact-integer matvec +
    // exact max + ONE mirrored double division per component; λ from
    // the last step's max alone. Oracle unrolls the identical steps.
    "e18_dominant_direction" -> Q(
      (s, dir) => Similarity.dominantDirectionFromCov(
        covarianceStaged(s, dir), iters = 5),
      Some(duckDominantDirSql)),

    // The SAME power iteration with the matvec DISTRIBUTED — the
    // d = 1024-4096 production shape e18's d <= 256 driver cap cannot
    // hold: the matrix stays a DataFrame (map-side symmetrized, pinned
    // once), v broadcasts per step as a d-long literal, w = C·v is one
    // row-keyed groupBy in exact decimal(38,0), and only the d-row w
    // vector is fetched per step. The scalar tail reuses the driver
    // form's exact code, so e19 ≡ e18 bit-for-bit on (dim, v_micro,
    // lambda_micro) — SimilaritySpec pins it — plus delta_micro, the
    // convergence residual max|v5 − v4| (near 0 certifies the
    // iterate converged; large flags a contested spectrum). Oracle:
    // the same unrolled-CTE replay with one more CTE for the delta.
    "e19_dominant_direction_dist" -> Q(
      (s, dir) => Similarity.dominantDirectionDistributed(
        covarianceStaged(s, dir), iters = 5),
      Some(duckDominantDirSqlWith(withDelta = true))),

    // e19 at the PRODUCTION WIDTH, driver-verified (r13 verdict task
    // 5 — PLANS.md "e19 scale rehearsal" promoted to an oracle
    // entry): d = 1024, a width e18's driver form REFUSES, over a
    // deterministic synthetic covariance planted in-plan as the
    // d(d+1)/2 upper-triangle cell frame e17 would produce:
    // C = a·uuᵀ + b·I with u's components drawn per-dimension from a
    // Knuth multiplicative hash (the SyntheticEvents discipline — no
    // data dependence, no randomness; the rank-1 spike makes the
    // dominant direction known and the 5-step iterate convergent, so
    // delta_micro is auditable in-entry: `converged` pins the
    // residual under 1% of the 1e6 scale from exact integers). The
    // oracle re-derives the SAME cells and unrolls the SAME 5 exact-
    // integer matvec steps, so the distributed groupBy matvec at
    // production width — 524 800 cells, 1 048 576 symmetrized rows
    // per step, v broadcast as 1024 longs — is cross-engine verified
    // end to end, not just rehearsal-asserted.
    "e20_dominant_direction_large" -> Q(
      (s, dir) => {
        val d = 1024
        // u_j in [-1, 1) from the Knuth multiplicative hash — the
        // operand order below is mirrored token-for-token in the
        // oracle (one shared IEEE evaluation, the g6 precedent)
        def uOf(c: Column): Column =
          ((c * lit(2654435761L)).bitwiseAND(lit(65535L))
            .cast("double") / lit(65535.0) - lit(0.5)) * lit(2.0)
        // 8 generator partitions (r14): the triangle is ~525k skinny
        // rows — range's default 32 partitions made the symmetrize
        // checkpoint a 64-tiny-task job (scheduling, not compute)
        val cells = s.range(0L, d.toLong, 1L, 8).select(col("id").as("i"))
          .select(col("i"),
            explode(expr(s"sequence(i, ${d - 1})")).as("j"))
          .select(col("i"), col("j"),
            round(lit(1e6) * (lit(0.04) * uOf(col("i")) * uOf(col("j"))
              + when(col("i") === col("j"), lit(0.001))
                .otherwise(lit(0.0))))
              .cast("long").as("cov_micro"))
        Similarity.dominantDirectionDistributed(cells, iters = 5)
          .withColumn("converged", col("delta_micro") < lit(10000L))
      },
      Some({
        s"""WITH uu AS (SELECT CAST(g.j AS BIGINT) AS j,
           |    ((CAST(((g.j * 2654435761) & 65535) AS DOUBLE)
           |      / 65535.0 - 0.5) * 2.0) AS u
           |  FROM (SELECT unnest(generate_series(0, 1023)) AS j) g),
           |cm AS (SELECT a.j AS i, b.j AS j,
           |    CAST(round(1e6 * (0.04 * a.u * b.u +
           |      CASE WHEN a.j = b.j THEN 0.001 ELSE 0.0 END))
           |      AS BIGINT) AS c
           |  FROM uu a JOIN uu b ON a.j <= b.j),
           |fm AS (SELECT i, j, c FROM cm
           |       UNION ALL SELECT j, i, c FROM cm WHERE i <> j),
           |v0 AS (SELECT DISTINCT i AS j, CAST(1000000 AS BIGINT) AS v
           |  FROM fm),
           |$duckPowerSteps,
           |dl AS (SELECT CAST(max(abs(v5.v - v4.v)) AS BIGINT) AS d
           |  FROM v5 JOIN v4 USING (j))
           |SELECT v5.j AS dim, v5.v AS v_micro,
           |  CAST(round(CAST(m5.m AS DOUBLE) / 1e6) AS BIGINT)
           |    AS lambda_micro, dl.d AS delta_micro,
           |  (dl.d < 10000) AS converged
           |FROM v5, m5, dl ORDER BY dim""".stripMargin
          .replace(" AS (", " AS MATERIALIZED (")
      })),

    "r2_hybrid_rrf" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val emb = table(s, dir, "embeddings")
        val q = vec0(emb)
        val lex = Retrieval.asRanking(
          Retrieval.bm25TopK(docs, "doc_id", "text",
            Seq("vector", "hash", "merge"), k = 50), "id", "bm25")
        val sem = Retrieval.asRanking(
          emb.select(col("vec_id"),
              round(Similarity.cosine(
                Similarity.toDouble(col("embedding")), typedlit(q)), 6)
                .as("cosine"))
            .orderBy(col("cosine").desc, col("vec_id").asc).limit(50),
          "vec_id", "cosine")
        Retrieval.rrfFuse(Seq(lex, sem), k = 20)
          .select(col("id").as("doc_id"), col("rrf"), col("n_lists"))
      },
      Some(s"""WITH $duckBm25Ctes,
             |sc AS (SELECT p.id,
             |    ROUND(sum(i.idf * p.tf * 2.2
             |      / (p.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / i.avgdl))),
             |      6) AS s
             |  FROM p JOIN i USING (term) JOIN l ON l.id = p.id
             |  GROUP BY p.id),
             |lex AS (SELECT id, CAST(row_number() OVER
             |    (ORDER BY s DESC, id ASC) AS BIGINT) AS rank
             |  FROM (SELECT * FROM sc ORDER BY s DESC, id ASC LIMIT 50)),
             |$duckQ0CosineCtes,
             |sem AS (SELECT id, CAST(row_number() OVER
             |    (ORDER BY c DESC, id ASC) AS BIGINT) AS rank
             |  FROM (SELECT * FROM cs ORDER BY c DESC, id ASC LIMIT 50)),
             |fused AS (SELECT id,
             |    ROUND(sum(1.0 / (rank + 60)), 6) AS rrf,
             |    CAST(count(*) AS BIGINT) AS n_lists
             |  FROM (SELECT * FROM lex UNION ALL SELECT * FROM sem)
             |  GROUP BY id)
             |SELECT id AS doc_id, rrf, n_lists FROM fused
             |ORDER BY rrf DESC, doc_id ASC LIMIT 20""".stripMargin)),

    // TRAINED IVF: two spherical-Lloyd iterations from a data-derived
    // init, then probe-and-rerank. The oracle re-derives the ENTIRE
    // training loop in SQL — assignment (argmax dot, cell-asc ties),
    // per-cell elementwise means via unnest, unit-normalize, round to
    // 6 decimals, twice — so the trained codebook itself is
    // cross-engine verified, not just the final top-k.
    "e6_ivf_trained" -> Q(
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
        val q = vec0(emb)
        Similarity.ivfTopKTrained(emb, "vec_id", "embedding", q, k = 20,
          initIds = (1L to 8L), iters = 2, nProbes = 2)
      },
      Some {
        def assign(name: String, c: String): String =
          s"""$name AS (SELECT vec_id, cell FROM (
             |    SELECT e.vec_id, $c.cell, row_number() OVER (
             |        PARTITION BY e.vec_id
             |        ORDER BY list_dot_product(e.v, $c.cv) DESC,
             |          $c.cell ASC) AS rn
             |    FROM e, $c) t WHERE rn = 1)""".stripMargin
        // two Lloyd rounds: assign to c(r-1), re-center to the normalized
        // per-dim mean (an emptied cell keeps its centroid)
        val lloyd = (1 to 2).map { r =>
          val (a, c) = (s"a${r - 1}", s"c${r - 1}")
          s"""${assign(a, c)},
             |m$r AS (SELECT cell, dim, avg(val) AS m FROM (
             |    SELECT $a.cell, generate_subscripts(e.v, 1) AS dim,
             |      unnest(e.v) AS val
             |    FROM $a JOIN e USING (vec_id)) u GROUP BY cell, dim),
             |n$r AS (SELECT cell, list(ROUND(m / nrm, 6) ORDER BY dim)
             |    AS cv FROM (
             |    SELECT cell, dim, m,
             |      sqrt(sum(m * m) OVER (PARTITION BY cell)) AS nrm
             |    FROM m$r) t GROUP BY cell),
             |c$r AS (SELECT $c.cell, coalesce(n$r.cv, $c.cv) AS cv
             |  FROM $c LEFT JOIN n$r USING (cell))""".stripMargin
        }.mkString(",\n")
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           |  FROM embeddings),
           |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
           |c0 AS (SELECT vec_id - 1 AS cell, v AS cv FROM e
           |  WHERE vec_id BETWEEN 1 AND 8),
           |$lloyd,
           |probe AS (SELECT cell FROM c2, q
           |  ORDER BY list_dot_product(cv, qv) DESC, cell LIMIT 2),
           |${assign("asg", "c2")},
           |cand AS (SELECT vec_id, cell FROM asg
           |  WHERE cell IN (SELECT cell FROM probe)),
           |$duckIvfRerankTail""".stripMargin
      }),

    // KMV distinct-count sketch: bounded mergeable state like q8's HLL,
    // but a pure function of the input set under the portable md5 hash
    // — so the approximate-distinct path is HASH-EXACT against the
    // oracle (DuckDB recomputes the k smallest distinct hashes and the
    // same estimator), not a rows-only check.
    "q25_kmv_distinct" -> Q(
      (s, dir) => {
        val k = 64
        val hashed = table(s, dir, "orders").select(
          col("o_orderpriority"),
          col("o_custkey"),
          Dedup.md5Long60(col("o_custkey").cast("string")).as("h"))
        hashed.groupBy("o_orderpriority")
          .agg(graft.functions.KMinValues.agg(k, col("h")).as("sketch"),
            countDistinct(col("o_custkey")).as("_exact"))
          .select(col("o_orderpriority"),
            round(graft.functions.KMinValues.estimate(col("sketch"), k), 6)
              .as("est_distinct"),
            col("_exact").cast("long").as("exact_distinct"))
          .orderBy("o_orderpriority")
      },
      Some(s"""WITH h AS (SELECT DISTINCT o_orderpriority,
             |    ${duckHash60("CAST(o_custkey AS VARCHAR)")} AS h
             |  FROM orders),
             |r AS (SELECT o_orderpriority, h,
             |    row_number() OVER (PARTITION BY o_orderpriority
             |      ORDER BY h) AS rn,
             |    count(*) OVER (PARTITION BY o_orderpriority) AS nd
             |  FROM h),
             |x AS (SELECT o_orderpriority,
             |    CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_distinct
             |  FROM orders GROUP BY o_orderpriority)
             |SELECT r.o_orderpriority,
             |  ROUND(CASE WHEN r.nd < 64 THEN CAST(r.nd AS DOUBLE)
             |    ELSE 63.0 * CAST(1152921504606846976 AS DOUBLE)
             |      / CAST(r.h AS DOUBLE) END, 6) AS est_distinct,
             |  x.exact_distinct
             |FROM r JOIN x USING (o_orderpriority)
             |WHERE (r.nd >= 64 AND r.rn = 64)
             |   OR (r.nd < 64 AND r.rn = 1)
             |ORDER BY r.o_orderpriority""".stripMargin)),

    // Relative-rank windows (percent_rank / cume_dist) over a
    // HIGH-cardinality partition key (customer) — the scale-safe
    // window shape: each task sorts only its own small groups, unlike
    // the 3-value l_returnflag partitions q9/q17 document as weak.
    // Rounded before the hash compare (rank ratios are small-int
    // divisions, deterministic in both engines).
    "q26_relative_rank" -> Q(
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("o_custkey")
          .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
        table(s, dir, "orders").select(
            col("o_custkey"), col("o_orderkey"),
            round(percent_rank().over(w), 6).as("pct_rank"),
            round(cume_dist().over(w), 6).as("cume"))
          .orderBy("o_orderkey").limit(1000)
      },
      Some("""SELECT o_custkey, o_orderkey,
             |  ROUND(percent_rank() OVER (PARTITION BY o_custkey
             |    ORDER BY o_totalprice, o_orderkey), 6) AS pct_rank,
             |  ROUND(cume_dist() OVER (PARTITION BY o_custkey
             |    ORDER BY o_totalprice, o_orderkey), 6) AS cume
             |FROM orders ORDER BY o_orderkey LIMIT 1000""".stripMargin)),

    // ---- LLM-data-pipeline: multimodal columns -------------------------
    "m1_binary_meta" -> Q(
      (s, dir) => table(s, dir, "documents").select(col("doc_id"),
          octet_length(encode(col("text"), "UTF-8")).cast("long")
            .as("n_bytes"),
          substring(sha2(col("text").cast("binary"), 256), 1, 8)
            .as("content_key"),
          when(col("doc_id") % 3 === 0, "image")
            .when(col("doc_id") % 3 === 1, "audio")
            .otherwise("video").as("media_type"))
        .orderBy("doc_id").limit(500),
      Some("""SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
             |  substr(sha256(text), 1, 8) AS content_key,
             |  CASE WHEN doc_id % 3 = 0 THEN 'image'
             |       WHEN doc_id % 3 = 1 THEN 'audio'
             |       ELSE 'video' END AS media_type
             |FROM documents ORDER BY doc_id LIMIT 500""".stripMargin)),

    // The mapPartitions decode path. Audio/video go through the labeled
    // stub (length-derived outputs the oracle recomputes from strlen);
    // the image payloads here are TEXT bytes — not valid images — so
    // the real javax.imageio branch rejects every one of them, and the
    // oracle checks the corrupt-payload degradation itself: one `error`
    // group with width -1, never a task failure.
    "m2_multimodal_stub" -> Q(
      (s, dir) => Multimodal.metaSummary(s, table(s, dir, "documents")),
      Some("""WITH m AS (SELECT doc_id,
             |    CASE WHEN doc_id % 3 = 0 THEN 'image'
             |         WHEN doc_id % 3 = 1 THEN 'audio'
             |         ELSE 'video' END AS media_type,
             |    strlen(text) AS nb FROM documents),
             |d AS (SELECT media_type, nb,
             |    CASE WHEN media_type = 'image' THEN -1
             |         ELSE 16 + nb % 1024 END AS width,
             |    CASE media_type
             |      WHEN 'image' THEN 'error'
             |      WHEN 'audio' THEN
             |        CASE WHEN nb % 2 = 0 THEN 'wav' ELSE 'flac' END
             |      ELSE CASE WHEN nb % 2 = 0 THEN 'mp4' ELSE 'webm' END
             |    END AS format
             |  FROM m)
             |SELECT media_type, format, count(*) AS n,
             |  CAST(sum(nb) AS BIGINT) AS total_bytes,
             |  ROUND(avg(width), 6) AS avg_width
             |FROM d GROUP BY media_type, format
             |ORDER BY media_type, format""".stripMargin)),

    // REAL image decode round-trip: a synthesized PNG per image-typed
    // doc (BufferedImage → PNG bytes, dims/fill pure functions of the
    // id) decoded back by javax.imageio on executors. The oracle
    // recomputes the expected width/height/format from the synthesis
    // formulas — the codec must reproduce them row by row.
    "m3_image_decode" -> Q(
      (s, dir) => Multimodal.imageDecodeTable(table(s, dir, "documents")),
      Some("""SELECT doc_id,
             |  CAST(4 + doc_id % 32 AS BIGINT) AS width,
             |  CAST(4 + (doc_id // 32) % 32 AS BIGINT) AS height,
             |  'png' AS format
             |FROM documents WHERE doc_id % 3 = 0
             |ORDER BY doc_id LIMIT 500""".stripMargin)),

    // REAL image resize round-trip: synthesized PNG → bilinear scale
    // into a 16-px box → PNG re-encode → RE-DECODE. The reported dims
    // come from the resized payload's pixels; the oracle recomputes
    // the integer target-dimension arithmetic from the synthesis
    // formulas, so the whole scale→encode→decode loop is checked.
    "m4_image_resize" -> Q(
      (s, dir) => Multimodal.imageResizeTable(
        table(s, dir, "documents"), maxSide = 16),
      Some("""WITH i AS (SELECT doc_id,
             |    CAST(4 + doc_id % 32 AS BIGINT) AS w0,
             |    CAST(4 + (doc_id // 32) % 32 AS BIGINT) AS h0
             |  FROM documents WHERE doc_id % 3 = 0),
             |m AS (SELECT doc_id, w0, h0, greatest(w0, h0) AS ms FROM i)
             |SELECT doc_id,
             |  CASE WHEN ms <= 16 THEN w0
             |       ELSE greatest(1, w0 * 16 // ms) END AS width,
             |  CASE WHEN ms <= 16 THEN h0
             |       ELSE greatest(1, h0 * 16 // ms) END AS height,
             |  'png' AS format
             |FROM m ORDER BY doc_id LIMIT 500""".stripMargin)),

    // Real audio FEATURE EXTRACTION (m8): decode the full PCM stream
    // of every synthesized WAV and fold it to integer features —
    // energy = sum of squared 16-bit samples, peak = max |sample|.
    // The synthesis ramp makes sample k a pure function of k, so the
    // oracle regenerates the byte stream arithmetically and the whole
    // container-parse -> frame-decode -> fold loop must land the
    // exact integers.
    "m8_audio_energy" -> Q(
      (s, dir) => Multimodal.audioFeatureTable(table(s, dir, "documents")),
      Some("""WITH a AS (SELECT doc_id,
             |    CAST((400 + doc_id % 600) * (1 + doc_id % 2)
             |      AS BIGINT) AS n
             |  FROM documents WHERE doc_id % 3 = 1),
             |v AS (SELECT doc_id, n,
             |    list_transform(generate_series(0, n - 1), k ->
             |      CASE WHEN ((62*k) % 256) + (((62*k+31) % 256) * 256)
             |             >= 32768
             |           THEN ((62*k) % 256) + (((62*k+31) % 256) * 256)
             |                - 65536
             |           ELSE ((62*k) % 256) + (((62*k+31) % 256) * 256)
             |      END) AS vals
             |  FROM a)
             |SELECT doc_id, n AS n_samples,
             |  CAST(list_sum(list_transform(vals, x -> x*x)) AS BIGINT)
             |    AS energy_sum,
             |  CAST(list_max(list_transform(vals, x -> abs(x)))
             |    AS BIGINT) AS peak_abs
             |FROM v ORDER BY doc_id LIMIT 500""".stripMargin)),

    // Image NEAR-DUP clusters by perceptual hash — the multimodal
    // dedup crossover: real two-level pattern PNGs (pattern class a
    // pure function of the id), REAL decode, 8x8 center-sampled
    // 64-bit average hash, cluster-minimum lineage by hash (the d14
    // aggregate+join de-skew shape). Same-pattern images at DIFFERENT
    // dimensions must collide and distinct patterns must not, so the
    // oracle predicts the clusters from the synthesis formulas alone —
    // the whole encode->decode->sample->hash loop has to land them.
    "m7_image_phash" -> Q(
      (s, dir) => Multimodal.imagePHashTable(table(s, dir, "documents")),
      Some("""WITH i AS (SELECT doc_id, (doc_id // 3) % 3 AS pat
             |  FROM documents
             |  WHERE doc_id % 3 = 0 AND doc_id % 32 >= 5
             |    AND (doc_id // 32) % 32 >= 5)
             |SELECT doc_id, min(doc_id) OVER (PARTITION BY pat)
             |    AS keep_id
             |FROM i ORDER BY doc_id LIMIT 500""".stripMargin)),

    // REAL audio decode round-trip (the m3 playbook applied to audio):
    // a synthesized RIFF/WAVE payload per audio-typed doc (16-bit PCM,
    // rate/channels/frames pure functions of the id) header-decoded
    // back by javax.sound.sampled.AudioSystem on executors. The oracle
    // recomputes rate/channels/frames and the integer duration
    // arithmetic from the synthesis formulas — the codec must
    // reproduce them row by row.
    "m5_audio_meta" -> Q(
      (s, dir) => Multimodal.audioDecodeTable(table(s, dir, "documents")),
      Some("""SELECT doc_id,
             |  CAST(8000 + (doc_id % 8) * 1000 AS BIGINT) AS sample_rate,
             |  CAST(1 + doc_id % 2 AS BIGINT) AS channels,
             |  CAST(400 + doc_id % 600 AS BIGINT) AS frames,
             |  CAST((400 + doc_id % 600) * 1000 //
             |       (8000 + (doc_id % 8) * 1000) AS BIGINT) AS duration_ms,
             |  'wave' AS format
             |FROM documents WHERE doc_id % 3 = 1
             |ORDER BY doc_id LIMIT 500""".stripMargin)),

    // REAL RIFF/AVI container metadata decode (the m5 playbook applied
    // to video): synthesized AVI per video-typed doc, hand-assembled
    // RIFF walker reads dims/frames/timing from the main header. The
    // container size is closed-form (224 + 24·frames), so even n_bytes
    // is oracle-checked. Frame pixels stay undecoded (no MJPEG codec
    // in the JDK) — the stub boundary is pixel access only.
    "m6_video_meta" -> Q(
      (s, dir) => Multimodal.videoDecodeTable(table(s, dir, "documents")),
      Some("""SELECT doc_id,
             |  CAST(224 + (10 + doc_id % 20) * 24 AS BIGINT) AS n_bytes,
             |  CAST(160 + (doc_id % 8) * 16 AS INTEGER) AS width,
             |  CAST(120 + (doc_id % 5) * 24 AS INTEGER) AS height,
             |  CAST(10 + doc_id % 20 AS BIGINT) AS frames,
             |  CAST(20000 + (doc_id % 5) * 5000 AS BIGINT)
             |    AS us_per_frame,
             |  CAST((10 + doc_id % 20) *
             |       (20000 + (doc_id % 5) * 5000) // 1000 AS BIGINT)
             |    AS duration_ms,
             |  'avi' AS format
             |FROM documents WHERE doc_id % 3 = 2
             |ORDER BY doc_id LIMIT 500""".stripMargin)),

    // FRAME SAMPLING over the AVI movi list — the step between
    // container metadata (m6) and pixel decode: index the video-data
    // chunks by walking the real byte layout, keep every 4th frame,
    // emit blob coordinates + payload byte-sum (what a downstream GPU
    // decoder consumes: (blob, offset, length) pointers). The oracle
    // is the closed-form of the synthesized container: frame i's
    // payload starts at 224 + 24i + 8, is 16 bytes, and its four
    // little-endian ints 4i..4i+3 sum (as bytes) to 16i + 6 — so the
    // parser is pinned against arithmetic, not against itself.
    "m9_video_frame_sample" -> Q(
      (s, dir) => Multimodal.sampleVideoFrames(
          Multimodal.attachVideos(
            table(s, dir, "documents")), every = 4).toDF()
        .orderBy("doc_id", "frame_idx").limit(2000),
      Some("""WITH f AS (SELECT doc_id,
             |    CAST(10 + doc_id % 20 AS BIGINT) AS frames
             |  FROM documents WHERE doc_id % 3 = 2),
             |idx AS (SELECT doc_id, unnest(generate_series(0,
             |    frames - 1, 4)) AS frame_idx
             |  FROM f)
             |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
             |  CAST(224 + frame_idx * 24 + 8 AS BIGINT) AS byte_off,
             |  CAST(16 AS BIGINT) AS n_bytes,
             |  CAST(16 * frame_idx + 6 AS BIGINT) AS payload_sum
             |FROM idx ORDER BY doc_id, frame_idx
             |LIMIT 2000""".stripMargin)),

    // VIDEO NEAR-DUP via per-frame content fingerprints — the
    // multimodal dedup modality m7 (images) and m8 (audio) didn't
    // cover: every movi frame payload hashes to a polynomial (Horner)
    // fingerprint base 131 mod 1e9+7, the per-video signature is
    // Σ fp(i)·(i+1) mod 1e9+7 over the ordered frames, and videos
    // collapse keep-min-id per signature (aggregate+join de-skew, the
    // m7 clustering shape). The oracle computes fp and vsig in CLOSED
    // FORM from the container synthesis (frame i's payload is the 4
    // little-endian ints 4i..4i+3, so fp(i) = Σ_j (4i+j)·131^(15−4j)
    // mod 1e9+7 with the powers as literals) — the real byte walk +
    // hash + aggregate chain must land on SQL-predicted values. Frame
    // content depends only on the frame index, so videos cluster by
    // frame count (doc_id % 20) — predicted and verified.
    "m10_video_fingerprint_dedup" -> Q(
      (s, dir) => Multimodal.videoFingerprintDedupTable(
        table(s, dir, "documents")),
      Some("""WITH v AS (SELECT doc_id,
             |    CAST(10 + doc_id % 20 AS BIGINT) AS n
             |  FROM documents WHERE doc_id % 3 = 2),
             |fr AS (SELECT doc_id, n,
             |    unnest(generate_series(0, n - 1)) AS i FROM v),
             |fp AS (SELECT doc_id, n, i,
             |    ((4*i + 0) * 493200928 + (4*i + 1) * 989961938
             |     + (4*i + 2) * 617266377 + (4*i + 3) * 2248091)
             |      % 1000000007 AS f
             |  FROM fr),
             |sig AS (SELECT doc_id, CAST(max(n) AS BIGINT) AS n_frames,
             |    CAST(sum(f * (i + 1)) % 1000000007 AS BIGINT) AS vsig
             |  FROM fp GROUP BY doc_id)
             |SELECT doc_id, n_frames, vsig,
             |  min(doc_id) OVER (PARTITION BY vsig) AS keep_id
             |FROM sig ORDER BY doc_id LIMIT 500""".stripMargin)),

    // Audio NEAR-DUP via PCM content fingerprints — the m10 machinery
    // at sample granularity, completing modality symmetry (image m7
    // pHash, video m10 frame hashes, audio m11 sample windows): real
    // javax.sound decode → 100-sample Horner windows → order-
    // sensitive per-audio signature → keep-min-id clusters. The
    // oracle computes every sample value, window hash, and signature
    // in CLOSED FORM from the WAV synthesis formulas (recursive-CTE
    // power table for 131^e mod p), so the decode→window→hash→
    // aggregate chain is pinned against pure arithmetic.
    "m11_audio_fingerprint_dedup" -> Q(
      (s, dir) => Multimodal.audioFingerprintDedupTable(
        table(s, dir, "documents")),
      Some("""WITH RECURSIVE pw(e, v) AS (
             |  SELECT 0, CAST(1 AS HUGEINT)
             |  UNION ALL SELECT e + 1, (v * 131) % 1000000007
             |  FROM pw WHERE e < 99),
             |au AS (SELECT doc_id,
             |    CAST((1 + doc_id % 2) * (400 + doc_id % 600)
             |      AS BIGINT) AS n
             |  FROM documents WHERE doc_id % 3 = 1),
             |sm AS (SELECT doc_id, n,
             |    unnest(generate_series(0, n - 1)) AS j FROM au),
             |sx AS (SELECT doc_id, j, j // 100 AS w, j % 100 AS pos,
             |    ((62 * j + 31) % 256) * 256 + (62 * j) % 256 AS u
             |  FROM sm),
             |wl AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS lw
             |  FROM sx GROUP BY doc_id, w),
             |fp AS (SELECT sx.doc_id, sx.w,
             |    CAST(sum((CAST(sx.u AS HUGEINT) * pw.v)
             |        % 1000000007) % 1000000007 AS BIGINT) AS f
             |  FROM sx
             |  JOIN wl ON wl.doc_id = sx.doc_id AND wl.w = sx.w
             |  JOIN pw ON pw.e = wl.lw - 1 - sx.pos
             |  GROUP BY sx.doc_id, sx.w),
             |sg AS (SELECT doc_id,
             |    CAST(count(*) AS BIGINT) AS n_windows,
             |    CAST(sum((CAST(f AS HUGEINT) * (w + 1))
             |        % 1000000007) % 1000000007 AS BIGINT) AS asig
             |  FROM fp GROUP BY doc_id)
             |SELECT doc_id, n_windows, asig,
             |  min(doc_id) OVER (PARTITION BY asig) AS keep_id
             |FROM sg ORDER BY doc_id LIMIT 500""".stripMargin)),

    // Shard-export ROUNDTRIP: the d45 serpentine assignment written as
    // a shard-partitioned parquet layout (one directory per shard —
    // the layout a trainer's data loader reads shard-by-shard), read
    // BACK through partition discovery, and re-aggregated. The oracle
    // is d45's: the write→read cycle must be value- and
    // assignment-lossless, and the read-side per-shard totals prove
    // the partition pruning path sees exactly the exported rows.
    "d48_shard_export_roundtrip" -> Q(
      (s, dir) => {
        val out = Staged.dir(s, "d48", dir) { p =>
          serpentineShards(s, dir)
            .select(col("doc_id"), col("_w"), col("shard"))
            .write.mode("overwrite").partitionBy("shard").parquet(p)
        }
        s.read.parquet(out)
          .groupBy("shard")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("_w")).as("total_weight"))
          .select(col("shard").cast("long").as("shard"),
            col("n_docs"), col("total_weight"))
          .orderBy("shard")
      },
      Some(duckSerpentineSql)))

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (name, q) => name -> q.fn }

  /** [[queries]] filtered by the SPARK_GRAFT_ONLY env var
    * (comma-separated names — the Bench/Verify dev-iteration aid).
    * Unknown names warn instead of silently running nothing. */
  def selectedQueries: Map[String, (SparkSession, String) => DataFrame] =
    sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet) match {
      case Some(names) =>
        val unknown = names.filterNot(queries.contains)
        if (unknown.nonEmpty)
          System.err.println("[graft] SPARK_GRAFT_ONLY names not " +
            s"found: ${unknown.toSeq.sorted.mkString(", ")}")
        queries.filter(kv => names(kv._1))
      case None => queries
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.collect { case (name, Q(_, Some(sql))) => name -> sql }
}
