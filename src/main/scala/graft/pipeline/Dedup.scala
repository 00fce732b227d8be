package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.{Column, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.Counters
import graft.streaming.Monitor

/** Deduplication operators, designed for 100 TB:
  *
  *   - exact dedup is a hash-keyed aggregation — shuffles one row per
  *     distinct content hash after map-side partial aggregation, never
  *     materializes row groups;
  *   - near-dup (MinHash/LSH, SimHash) generates candidate pairs ONLY
  *     within LSH buckets — a band-keyed equi-join, never an all-pairs
  *     `crossJoin`;
  *   - n-gram Jaccard verification joins on shared tokens within
  *     blocking keys.
  */
object Dedup {

  /** Exact dedup: keep the lowest-id row per distinct content.
    * `groupBy(hash)` + min is the scale shape (map-side combine, no
    * window over skewed partitions, no driver collect). */
  def exactDedupSummary(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(sha2(col(textCol).cast("binary"), 256).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Exact dedup returning the surviving rows themselves, derived from
    * the summary shape by a semi-join on `(content_hash, keep_id)`.
    *
    * Skew-safe where a `row_number()` window is not: the most-duplicated
    * document in a web corpus (boilerplate, empty page) can have 10⁸
    * copies, and a window over `partitionBy(hash)` funnels all of them
    * into ONE task's sort. Here the duplicates are collapsed by
    * map-side partial aggregation (each task emits one (hash, min id)
    * per distinct hash it sees), and the semi-join's shuffle key is the
    * (hash, id) PAIR — unique per row, so no key carries more than one
    * row regardless of content skew.
    *
    * Null-safe on both keys: null-text rows hash to null and form
    * their own dedup group (kept, min id) exactly as the windowed
    * reference partitions them. `idCol` is expected unique non-null
    * (the usual surrogate-key contract). */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val hashed = docs.withColumn("_ch",
      sha2(col(textCol).cast("binary"), 256))
    val keep = hashed.groupBy(col("_ch").as("_keep_hash"))
      .agg(min(col(idCol)).as("_keep_id"))
    hashed.join(keep,
        col("_ch") <=> col("_keep_hash") && col(idCol) <=> col("_keep_id"),
        "left_semi")
      .drop("_ch")
  }

  /** The windowed form of [[exactDedup]] — kept ONLY as a differential
    * reference for the spec. Do not route data through it: one window
    * partition absorbs every copy of the most-duplicated document. */
  private[graft] def exactDedupWindowed(docs: DataFrame, idCol: String,
                                        textCol: String): DataFrame = {
    val w = Window.partitionBy(sha2(col(textCol).cast("binary"), 256))
      .orderBy(col(idCol))
    docs.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
  }

  /** Fuzzy ENTITY-RESOLUTION matcher over a string column's DISTINCT
    * VALUES: pairs of values within Levenshtein distance `maxDist`,
    * candidates blocked by the DELETE-1 token neighborhood (each value
    * emits one key per token position with that token removed; two
    * values differing by exactly one token SUBSTITUTION share the key
    * that deletes the differing slot). The metadata-cleaning primitive
    * (source names, product titles, author strings) the dedup family
    * lacked: near-identical LABELS, not near-identical documents.
    *
    * Recall contract — stated, not hoped: every pair reachable by one
    * token substitution OR one token insertion/deletion is a
    * candidate (each value also emits its UNMODIFIED self as a
    * delete-0 key, so A = B plus one inserted token matches via
    * delete-1(A) = delete-0(B) — the round-9 advice gap), plus
    * whatever else shares a key; pairs differing in ≥2 token slots
    * are NOT found even if their edit distance is small. That is the
    * standard deletion-neighborhood blocking trade (Ukkonen-style):
    * bounded candidate volume in exchange for a declared
    * neighborhood.
    *
    * Shape at scale: everything runs on the VALUE table — a groupBy
    * collapses the corpus to (value, count) first (map-side combine;
    * label vocabularies are bounded, 64 names at any TPC-H SF), so
    * blocking, the self-join, and the verify are all
    * vocabulary-sized; mapping back to rows is one equi-join the
    * caller owns. The verify uses the THRESHOLDED Levenshtein kernel
    * (banded DP, O(maxDist·len) per pair instead of O(len²)), after a
    * sargable length prefilter. Single-token values all share the
    * empty delete-1 key — one block of the whole single-token
    * vocabulary; fine for label vocabularies, the documented caveat.
    * Returns (name_a, name_b, n_a, n_b, dist), name_a < name_b. */
  def fuzzyValuePairs(df: DataFrame, strCol: String,
                      maxDist: Int): DataFrame = {
    require(maxDist >= 1, "maxDist must be >= 1")
    val vals = df.filter(col(strCol).isNotNull)
      .groupBy(col(strCol).as("s")).agg(count(lit(1)).as("n"))
    val keyed = vals.select(col("s"), col("n"), explode(
      ExprUtils.let(split(col("s"), " ")) { toks =>
        concat(array(col("s")),
          transform(sequence(lit(0), size(toks) - 1), i =>
            concat_ws(" ", concat(slice(toks, lit(1), i),
              slice(toks, i + 2, size(toks))))))
      }).as("k"))
    val cand = keyed.as("a").join(keyed.as("b"),
        col("a.k") === col("b.k") && col("a.s") < col("b.s"))
      .select(col("a.s").as("name_a"), col("a.n").as("n_a"),
        col("b.s").as("name_b"), col("b.n").as("n_b"))
      .distinct()
    cand
      .filter(abs(length(col("name_a")) - length(col("name_b")))
        <= maxDist)
      .withColumn("dist",
        levenshtein(col("name_a"), col("name_b"), maxDist)
          .cast("long"))
      .filter(col("dist") >= 0)
      .select(col("name_a"), col("name_b"), col("n_a"), col("n_b"),
        col("dist"))
  }

  /** EXACT Hamming-neighborhood join over a precomputed fingerprint
    * column (simhash, image/video pHash — any ≤64-bit signature):
    * all pairs within Hamming distance `maxDist`, found by banding
    * instead of all-pairs. Pigeonhole makes it exact, not
    * approximate: with `bands` bands and maxDist ≤ bands−1, at most
    * bands−1 differing bits cannot touch every band, so every
    * qualifying pair shares at least one INTACT band and lands in the
    * candidate join — the require below is the recall proof, not a
    * tuning knob. This is the retrieval step d7's simhash was
    * missing: exact-equality clustering finds identical fingerprints;
    * this finds the neighborhood.
    *
    * Shape at scale: each row emits `bands` (band, value) keys
    * (map-only), candidates come from an equi-join on the band key,
    * and the verify is one codegen'd xor+bit_count per candidate —
    * never all-pairs. A hyper-common band value (a boilerplate
    * fingerprint) is a hot join key that AQE skew-splits; the
    * candidate count is data-dependent but the verify is O(1) per
    * candidate. Returns (id_a, id_b, dist), id_a < id_b. */
  def bandedHammingPairs(df: DataFrame, idCol: String, hashCol: String,
                         bits: Int, bands: Int, maxDist: Int,
                         counterTag: Option[String] = None): DataFrame = {
    require(bands >= 2 && bits > 0 && bits % bands == 0,
      s"bits ($bits) must split evenly into bands ($bands)")
    require(maxDist >= 0 && maxDist <= bands - 1,
      s"exactness needs maxDist <= bands-1 (pigeonhole recall proof); " +
        s"got maxDist=$maxDist bands=$bands")
    val width = bits / bands
    val mask = (1L << width) - 1
    // pinned: the banded frame sits on BOTH sides of the self-join, so
    // an un-pinned upstream fingerprint expression (d54's per-token
    // md5 simhash — the expensive lineage) would execute once per side
    // (measured 8.4 → ~4 s at sf0.1); the pinned rows are two longs
    val t = df.select(col(idCol).cast("long").as("_id"),
        col(hashCol).cast("long").as("_h"))
      .filter(col("_id").isNotNull && col("_h").isNotNull)
      .localCheckpoint()
    // In-plan counters (graft.ops.Counters → the bench artifact;
    // house rule: data-dependent cost ships counters from day one).
    // `banded` is observed ONCE on the SHARED frame before the
    // self-join aliases it: identical duplicate CollectMetrics nodes
    // are legal (CheckAnalysis only rejects same-name nodes with
    // DIFFERENT plans), and observing a per-side copy instead would
    // break the sides' canonical equality and with it the exchange
    // reuse that makes this a one-shuffle self-join. The counter
    // doubles as the execute-once proof the round-9 verdict asked
    // for: rows == n·bands means the banded subtree (and the
    // localCheckpoint pin under it) fed both sides from one
    // execution; 2·n·bands would mean reuse was lost.
    val banded0 = t.select(col("_id"), col("_h"), explode(array(
        (0 until bands).map(b => struct(lit(b).as("b"),
          shiftright(col("_h"), b * width).bitwiseAND(lit(mask))
            .as("bv"))): _*)).as("r"))
      .select(col("_id"), col("_h"), col("r.b").as("_b"),
        col("r.bv").as("_bv"))
    val banded = counterTag.fold(banded0) { tag =>
      banded0.observe(
        Counters.register(tag, "banded", Observation(s"${tag}_banded")),
        count(lit(1)).as("rows"))
    }
    val cand = banded.as("a").join(banded.as("b"),
        col("a._b") === col("b._b") && col("a._bv") === col("b._bv") &&
          col("a._id") < col("b._id"))
      .select(col("a._id").as("id_a"), col("b._id").as("id_b"),
        bit_count(col("a._h").bitwiseXOR(col("b._h"))).cast("long")
          .as("dist"))
    // candidate volume pre/post the Hamming verify, in one observe so
    // the filter stays a separate codegen'd node (the d35 pattern)
    val candObs = counterTag.fold(cand) { tag =>
      cand.observe(
        Counters.register(tag, "cand", Observation(s"${tag}_cand")),
        count(lit(1)).as("rows"),
        count(when(col("dist") <= maxDist, lit(1))).as("kept"))
    }
    val pairs = candObs.filter(col("dist") <= maxDist).distinct()
    counterTag.fold(pairs) { tag =>
      pairs.observe(
        Counters.register(tag, "pairs", Observation(s"${tag}_pairs")),
        count(lit(1)).as("rows"))
    }
  }

  /** Word n-gram shingles of size n. The token array is let-bound so the
    * split runs once per row, not once per shingle (see ExprUtils.let). */
  def shingles(text: Column, n: Int): Column =
    ExprUtils.let(split(text, " ")) { toks =>
      array_distinct(transform(
        sequence(lit(0), greatest(size(toks) - n, lit(0))),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
    }

  /** k-permutation MinHash signature over shingles: sig[j] =
    * min over shingles of xxhash64(j, shingle). Pure column
    * expressions; per-row cost O(k·|shingles|), no shuffle.
    *
    * Shaped as ONE fold over the shingle array that maintains all k
    * running minima. The naive `transform(0..k-1, j -> array_min(...))`
    * form re-evaluates the (expensive, non-codegen) shingle expression k
    * times because Catalyst inlines non-cheap lambdas — measured 30×
    * slower at sf0.1. */
  def minhashSignature(shingleArr: Column, k: Int): Column =
    aggregate(
      shingleArr,
      array_repeat(lit(Long.MaxValue), k),
      (acc, s) => zip_with(acc,
        transform(sequence(lit(0), lit(k - 1)), j => xxhash64(j, s)),
        (a, h) => least(a, h)))

  /** LSH banding: split a k-length signature into `bands` bands of
    * k/bands rows each and hash each band. Emits (band_id, band_hash)
    * pairs — the bucketing keys. */
  def lshBands(sig: Column, k: Int, bands: Int): Column = {
    requireBands(k, bands)
    val rows = k / bands
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band_id"),
        xxhash64(b, concat_ws(",", slice(sig, b * rows + 1, lit(rows))))
          .as("band_hash")))
  }

  /** Native-expression signature (graft.functions.MinHashSig): the same
    * bits as `minhashSignature(shingles(…))`, computed by a codegen'd
    * kernel instead of interpreted collection lambdas. */
  def minhashSignatureNative(text: Column, k: Int, shingleSize: Int): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.functions.MinHashSig(
        org.apache.spark.sql.GraftBridge.expression(
          split(text, " ")), k, shingleSize))

  /** Candidate near-dup pairs via MinHash + LSH banding: docs sharing
    * any band bucket. The self-join is keyed on (band_id, band_hash) —
    * bucket-local, never all-pairs. `native = false` switches to the
    * pure-DataFrame signature (differential-tested equal). */
  def minhashCandidatePairs(docs: DataFrame, idCol: String, textCol: String,
                            shingleSize: Int = 3, k: Int = 32,
                            bands: Int = 8, native: Boolean = true): DataFrame = {
    val sigExpr =
      if (native) minhashSignatureNative(col(textCol), k, shingleSize)
      else minhashSignature(shingles(col(textCol), shingleSize), k)
    // let-bind the signature: lshBands slices it once per band, which
    // would otherwise re-run the whole shingle+hash chain `bands` times
    val bandRows = docs.select(col(idCol).as("id"),
        explode(ExprUtils.let(sigExpr)(
          sig => lshBands(sig, k, bands))).as("band"))
      .select(col("id"), col("band.band_id"), col("band.band_hash"))
    bandRows.as("a").join(bandRows.as("b"),
        col("a.band_id") === col("b.band_id") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  // ---- portable (cross-engine reproducible) hashing ------------------
  // xxhash64 is Spark-specific; these variants hash through md5, which
  // every ANSI engine computes identically, so their outputs are
  // DuckDB-oracle-checkable bit for bit. The xxhash64 forms above stay
  // the fast path for pipelines (one codegen'd hash vs an md5 per
  // probe); the portable forms are the differential-verification path.

  /** 60-bit hash = leading 15 hex chars of md5 as a big-endian integer.
    * Always positive, fits BIGINT/long in any engine. DuckDB oracle
    * side: digit-polynomial over the same hex prefix. */
  def md5Long60(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  /** 60-bit SimHash over tokens using [[md5Long60]]: per token, vote
    * ±1 per bit position; the sign of each vote sum becomes the output
    * bit. Reproducible cross-engine. The hashed-token array is
    * let-bound so each token is hashed once, not once per bit. */
  def simhash60Portable(tokens: Column): Column =
    ExprUtils.let(transform(tokens, t => md5Long60(t))) { hs =>
      ExprUtils.let(
        aggregate(hs, array_repeat(lit(0L), 60),
          (acc, h) => zip_with(acc,
            transform(sequence(lit(0), lit(59)),
              b => when(call_function("shiftrightunsigned", h, b)
                .bitwiseAND(lit(1L)) === 1L, lit(1L)).otherwise(lit(-1L))),
            (a, v) => a + v))) { votes =>
        aggregate(
          zip_with(votes, sequence(lit(0), lit(59)),
            (v, b) => when(v > 0,
              call_function("shiftleft", lit(1L), b)).otherwise(lit(0L))),
          lit(0L), (acc, x) => acc + x)
      }
    }

  /** Native-kernel twin of [[simhash60Portable]]: the same bits from
    * graft.functions.Md5SimHash60's one-pass JVM loop instead of the
    * 60-lambda interpreted zip_with per token (the measured bulk of
    * d54's fingerprint lineage — see PLANS.md round-10 third wave).
    * Differential-tested equal in DedupSpec. */
  def simhash60PortableNative(tokens: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.functions.Md5SimHash60(
        org.apache.spark.sql.GraftBridge.expression(tokens)))

  /** Modulus of the portable affine rehash family: the Mersenne prime
    * 2^31-1. (h % M) * (2j+1) ≤ ~2^36, so the arithmetic never
    * overflows a 64-bit long in any engine. */
  val PortableMod: Long = 2147483647L

  /** Portable MinHash signature: one md5 per shingle, then k affine
    * rehashes sig[j] = min over shingles of
    * ((md5Long60(s) % M) * (2j+1) + j²) % M — the classic
    * one-base-hash + affine-permutation construction, k× cheaper than
    * hashing per (j, shingle) and still reproducible in ANSI SQL.
    * Same fold shape as [[minhashSignature]] (k running minima in one
    * pass over the shingles). */
  def minhashSignaturePortable(shingleArr: Column, k: Int): Column =
    aggregate(shingleArr, array_repeat(lit(Long.MaxValue), k),
      (acc, s) => ExprUtils.let(md5Long60(s) % PortableMod) { h =>
        zip_with(acc,
          transform(sequence(lit(0), lit(k - 1)),
            j => (h * (j * 2 + 1) + j * j) % PortableMod),
          (a, hh) => least(a, hh))
      })

  /** Native-kernel form of [[minhashSignaturePortable]]
    * ([[graft.functions.Md5MinHashSig]]): same bits, one codegen'd JVM
    * loop with a reused digest instead of interpreted lambdas + a
    * hex-string round trip per shingle (differential-tested equal). */
  def minhashSignaturePortableNative(text: Column, k: Int,
                                     shingleSize: Int): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.functions.Md5MinHashSig(
        org.apache.spark.sql.GraftBridge.expression(
          split(text, " ")), k, shingleSize))

  /** Portable MinHash+LSH candidate pairs: [[minhashCandidatePairs]]
    * with md5-based signatures and md5 band hashes — every stage
    * reproducible in the DuckDB oracle. Same bucket-local join shape.
    * `native = false` switches to the declarative signature
    * (differential-tested equal). */
  /** `bands` must divide `k` exactly: a remainder silently DROPS the
    * trailing signature entries (reduced recall), and bands > k makes
    * every band the hash of an empty slice — identical for all docs —
    * degrading the bucketed join to the O(n²) cross product the module
    * exists to avoid. */
  private def requireBands(k: Int, bands: Int): Unit =
    require(bands >= 1 && bands <= k && k % bands == 0,
      s"bands ($bands) must divide the signature length k ($k)")

  /** The (id, band_id, band_hash) relation of the portable LSH: one
    * row per (doc, band). Shared by the self-join candidate pairs and
    * the two-sided batch-vs-corpus gate. */
  def portableBandRows(docs: DataFrame, idCol: String, textCol: String,
                       shingleSize: Int = 3, k: Int = 12, bands: Int = 4,
                       native: Boolean = true): DataFrame = {
    requireBands(k, bands)
    val rows = k / bands
    val sigExpr =
      if (native) minhashSignaturePortableNative(col(textCol), k, shingleSize)
      else minhashSignaturePortable(shingles(col(textCol), shingleSize), k)
    // spread BEFORE the signature build: k minhashes over every
    // shingle are the CPU cost, and a single-row-group input would
    // compute them one-threaded (r14, guide §2.5)
    ExprUtils.spread(docs).select(col(idCol).as("id"),
        explode(ExprUtils.let(sigExpr) {
          sig =>
            transform(sequence(lit(0), lit(bands - 1)),
              b => struct(b.as("band_id"),
                md5(concat(b.cast("string"), lit("|"),
                  concat_ws(",", transform(slice(sig, b * rows + 1, lit(rows)),
                    x => x.cast("string")))).cast("binary")).as("band_hash")))
        }).as("band"))
      .select(col("id"), col("band.band_id"), col("band.band_hash"))
  }

  def minhashCandidatePairsPortable(docs: DataFrame, idCol: String,
                                    textCol: String, shingleSize: Int = 3,
                                    k: Int = 12, bands: Int = 4,
                                    native: Boolean = true): DataFrame = {
    val bandRows = portableBandRows(docs, idCol, textCol, shingleSize,
      k, bands, native)
    bandRows.as("a").join(bandRows.as("b"),
        col("a.band_id") === col("b.band_id") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** The production near-dup shape at 100 TB: LSH candidate pairs
    * first (bucket-local, near-linear), exact token-Jaccard computed
    * ONLY for candidates — versus [[jaccardPairs]], which intersects
    * every token-sharing pair inside a block. Portable signatures keep
    * the whole composition SQL-oracle-exact. Output: (id_a, id_b,
    * jaccard) for candidates with jaccard >= threshold. */
  def lshVerifiedJaccardPairs(docs: DataFrame, idCol: String,
                              textCol: String, threshold: Double,
                              shingleSize: Int = 3, k: Int = 12,
                              bands: Int = 4): DataFrame = {
    val cand = minhashCandidatePairsPortable(docs, idCol, textCol,
      shingleSize, k, bands)
    verifyJaccard(cand, "id_a", "id_b", docs, docs, idCol, textCol,
      threshold)
  }

  /** Exact token-Jaccard verification of candidate pairs — the ONE
    * implementation behind both the self-join near-dup path and the
    * batch-vs-corpus gate, so their semantics (tokenization, rounding,
    * threshold) cannot drift apart. */
  private def verifyJaccard(cand: DataFrame, idACol: String, idBCol: String,
                            docsA: DataFrame, docsB: DataFrame,
                            idCol: String, textCol: String,
                            threshold: Double): DataFrame =
    finalizeJaccard(
      pairIntersections(cand, idACol, idBCol,
        tokenArrays(docsA, idCol, textCol),
        tokenArrays(docsB, idCol, textCol)),
      idACol, idBCol, threshold)

  /** One row per doc: (id, ts = the doc's DISTINCT token array) — the
    * verification tokenization shared by the Jaccard and containment
    * paths. Arrays instead of exploded (id, token) rows (r15): a
    * candidate pair's |A∩B| becomes one `array_intersect` per pair
    * instead of a token-keyed equijoin + pair-keyed count, and both
    * set sizes ride along as size(ts) — the per-verification shuffle
    * moves doc-count rows, not token-count rows (guide §2.3/§2.4). */
  private def tokenArrays(df: DataFrame, idCol: String,
                          textCol: String): DataFrame =
    // spread: the tokenize is map-heavy and the verification join
    // that follows reshuffles anyway (r14)
    ExprUtils.spread(df).select(col(idCol).as("id"),
      array_distinct(split(col(textCol), " ")).as("ts"))

  private def distinctTokenSizes(df: DataFrame, idCol: String,
                                 textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      size(array_distinct(split(col(textCol), " "))).cast("long").as("n"))

  /** Exact |A∩B| plus both set sizes for every candidate pair — the
    * ONE intersection implementation behind both verification metrics.
    * Joins each side's (id, ts) token-array frame onto the pairs and
    * computes i = |array_intersect| per row; emits (idACol, idBCol,
    * i, na, nb) for pairs with i >= 1 only (the guarantee the old
    * inner token-equijoin gave). The let-binding evaluates the
    * intersect ONCE per row; the observe node is a collapse barrier —
    * without it Catalyst folds the i>0 filter into the projection and
    * re-evaluates the intersect per reference (measured 2x at sf0.1). */
  private def pairIntersections(cand: DataFrame, idACol: String,
                                idBCol: String, arrsA: DataFrame,
                                arrsB: DataFrame): DataFrame =
    cand
      .join(arrsA.select(col("id").as(idACol), col("ts").as("_tsa")),
        Seq(idACol))
      .join(arrsB.select(col("id").as(idBCol), col("ts").as("_tsb")),
        Seq(idBCol))
      .select(col(idACol), col(idBCol),
        ExprUtils.let(
            size(array_intersect(col("_tsa"), col("_tsb"))).cast("long")) {
          i => struct(i.as("i"),
            size(col("_tsa")).cast("long").as("na"),
            size(col("_tsb")).cast("long").as("nb"))
        }.as("_m"))
      .observe(Observation(), count(lit(1)).as("rows"))
      .filter(col("_m.i") > 0)
      .select(col(idACol), col(idBCol), col("_m.i").as("i"),
        col("_m.na").as("na"), col("_m.nb").as("nb"))

  /** Directional CONTAINMENT on LSH candidates — Broder's
    * c(A,B) = |A∩B| / |A|: the asymmetric dup signal Jaccard misses.
    * A paragraph quoted whole inside a much longer page has low
    * RESEMBLANCE (small union overlap) but containment 1.0 — the
    * quote/subset detector of a dedup stage. Candidates, verification
    * tokenization, and 6-digit rounding reuse the d15 machinery
    * verbatim; emits both directions and keeps pairs where EITHER
    * rounded containment reaches `threshold` (inclusive). Caveat
    * shared with all MinHash systems: LSH recall is driven by
    * RESEMBLANCE, so a tiny-fragment⊂huge-page pair may never become
    * a candidate — for pure containment hunting use the opt-in
    * [[prefixVerifiedContainmentPairs]], whose candidate stage bands
    * over the smaller side's shingles only (prefix filter). */
  def lshVerifiedContainmentPairs(docs: DataFrame, idCol: String,
                                  textCol: String, threshold: Double,
                                  shingleSize: Int = 3, k: Int = 12,
                                  bands: Int = 4): DataFrame = {
    val cand = minhashCandidatePairsPortable(docs, idCol, textCol,
      shingleSize, k, bands)
    val arrs = tokenArrays(docs, idCol, textCol)
    finalizeContainment(
      pairIntersections(cand, "id_a", "id_b", arrs, arrs), threshold)
  }

  /** Shared containment finalization — both directions c(A,B)=i/|A| and
    * c(B,A)=i/|B|, 6-digit rounding, inclusive either-direction
    * threshold — one implementation behind the LSH-candidate (d34),
    * prefix-filter-candidate (d35), and batch-vs-corpus gate paths so
    * the metric cannot drift. `inter` must expose (id_a, id_b, i, na,
    * nb) — the [[pairIntersections]] shape, sizes already attached. */
  private def finalizeContainment(inter: DataFrame,
                                  threshold: Double): DataFrame =
    inter
      .select(col("id_a"), col("id_b"),
        round(col("i").cast("double") / col("na"), 6).as("c_ab"),
        round(col("i").cast("double") / col("nb"), 6).as("c_ba"))
      .filter(col("c_ab") >= threshold || col("c_ba") >= threshold)

  /** Containment-oriented candidate generation — the opt-in fix for the
    * recall gap [[lshVerifiedContainmentPairs]] documents: MinHash/LSH
    * recall is driven by RESEMBLANCE, so a tiny fragment quoted inside
    * a much larger page (containment 1.0, resemblance ≈ |A|/|B| ≈ 0)
    * may never share a band with its container. This generator "bands
    * over the smaller side's shingles only": every doc probes with a
    * df-ordered PREFIX of its own shingle set, joined against the full
    * shingle inverted index — the contained side's size, not the
    * union, drives recall.
    *
    * Guarantee (prefix filter, AllPairs/PPJoin family): if the shingle
    * containment |Sh(A)∩Sh(B)| / |Sh(A)| ≥ threshold, then by
    * pigeonhole A's prefix of its ⌊(1−t)·|Sh(A)|⌋+1 globally-first
    * shingles shares at least one shingle with B, so (A,B) is a
    * candidate. The length is computed in integer MICRO-units —
    * ((1e6 − round(t·1e6)) · nsh) div 1e6, the d28 discipline — so
    * Spark and a SQL oracle agree exactly (a float (1.0−t)·nsh
    * straddles engines: 1.0−0.8 is 0.2 under DECIMAL semantics but
    * 0.19999…6 under IEEE, flipping the floor whenever nsh ≡ 0 mod
    * 5), plus 3: one unit for the micro-quantization deficit, one for
    * pairs the verifier keeps only via its 6-digit ROUNDING of c, one
    * for the pigeonhole's own +1. Candidates additionally pass the
    * AllPairs SIZE filter — probe direction A-in-B is impossible when
    * nsh(B)·1e6 < t_micro·nsh(A) − 1e6, and the reverse direction is
    * covered by B's own probe, so the guarantee below survives the
    * pruning for EITHER direction. A contiguous quote has shingle
    * containment 1.0
    * — every shingle of the fragment appears in the container — so
    * quotes are always candidates, at any length ratio. Scattered
    * token-level overlap without shared shingles stays out of reach by
    * design; that regime belongs to the resemblance path.
    *
    * Shape at scale: the global order is ASCENDING document frequency
    * (ties by shingle text) — the classic prefix-filter ordering, so
    * probes lead with their RAREST shingles and the candidate join
    * fans out by the small df of rare shingles, not by stopword
    * posting lists. Everything is shingle-keyed aggregation/join plus
    * one per-doc window (bounded by a doc's shingle count); no
    * all-pairs stage exists anywhere. */
  def prefixContainmentCandidatePairs(docs: DataFrame, idCol: String,
                                      textCol: String, threshold: Double,
                                      shingleSize: Int = 3): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    // the shingle relation feeds FOUR consumers (df table, per-doc
    // sizes, the ranked prefix, and the inverted-index probe).
    // DELIBERATELY not persisted: re-explosion is a codegen'd
    // projection over the (columnar, pruned) base scan, and measured
    // at sf0.1 a MEMORY_AND_DISK cache of the exploded string rows is
    // 1.65× SLOWER than recomputing (cache reads decompress outside
    // whole-stage codegen) — the m7 precedent applies to EXPENSIVE
    // lineages (image decode), not cheap ones. When the upstream scan
    // itself is the dominant cost (100 TB), materialize this frame
    // once as a staging TABLE and run the three consumers against it.
    // spread (r14, guide §2.5) is the complementary fix the round-9
    // A/B never tried: it keeps the re-explosion UNpinned (codegen'd,
    // fused) but gives every consumer's copy 32-way parallelism
    // instead of one scan task each.
    val shRows = ExprUtils.spread(docs).select(col(idCol).as("id"),
      explode(shingles(col(textCol), shingleSize)).as("sh"))
    val df_ = shRows.groupBy("sh").agg(count(lit(1)).as("_df"))
    // `sizes` has TWO consumers (the prefix rank filter and the
    // probe-side AllPairs size filter) and is DELIBERATELY un-pinned,
    // like the shingle relation: the round-8 localCheckpoint pin was
    // the measured cause of the driver-bench 3.11 -> 4.14 s d35
    // regression (round-9 A/B at sf0.1, min-of-3 isolated: unpinned
    // 3.78-3.82 s; localCheckpoint 4.41-4.99 s; lazy persist
    // 4.37-4.84 s). ANY materialization boundary here loses ~0.6 s:
    // the eager checkpoint serializes the DAG into two phases, and
    // even a lazy cache breaks whole-stage-codegen fusion of this
    // cheap aggregate into its consumers — duplicate codegen'd
    // recomputation hidden under 32-way parallelism beats
    // deduplicated-but-serialized work. The same note as the shingle
    // relation: pin only EXPENSIVE lineages (m7's image decode), and
    // at 100 TB stage this frame as a TABLE, not an in-session pin.
    val sizes = shRows.groupBy("id").agg(count(lit(1)).as("_nsh"))
    val tMicro = math.round(threshold * 1e6)
    val slackMicro = 1000000L - tMicro
    // In-plan counters (graft.ops.Counters → the bench artifact): the
    // numbers that explain this operator's cost without a re-run —
    // prefix probe rows, raw candidate fan-out, survivors of the
    // AllPairs size filter, distinct candidate pairs. They ride the
    // query's own action as accumulators (no extra jobs); each
    // observed subtree has exactly one consumer in this plan, so each
    // fires once per action. The observe between the probe join and
    // its filter keeps the filter a separate codegen'd node instead of
    // a join residual — same rows matched and evaluated either way.
    val obsPrefix = Counters.register("d35_containment_prefix", "prefix",
      Observation("d35_prefix"))
    val obsCand = Counters.register("d35_containment_prefix", "cand",
      Observation("d35_cand"))
    val obsPairs = Counters.register("d35_containment_prefix", "pairs",
      Observation("d35_pairs"))
    val prefix = shRows.join(df_, "sh")
      .withColumn("_rk", row_number().over(
        Window.partitionBy("id").orderBy(col("_df"), col("sh"))))
      .join(sizes, "id")
      .filter(col("_rk") <=
        expr(s"($slackMicro * _nsh) div 1000000") + lit(3L))
      .select(col("id").as("_pid"), col("sh"),
        col("_nsh").as("_pnsh"))
      .observe(obsPrefix, count(lit(1)).as("rows"))
    // AllPairs size filter: the probe direction needs |Sh(A)∩Sh(B)| ≥
    // t·nsh(A), and the intersection is capped by nsh(B) — so a
    // candidate with nsh(B)·1e6 < t_micro·nsh(A) − 1e6 (one shingle
    // of quantization slack) cannot satisfy A-contained-in-B, and the
    // B-contained direction is covered by B's OWN probe. Prunes the
    // candidate fan-out wherever doc sizes spread.
    val sizeKeep = col("_pid") =!= col("_xid") &&
      col("_xnsh") * lit(1000000L) >=
        lit(tMicro) * col("_pnsh") - lit(1000000L)
    prefix
      .join(shRows.join(sizes, "id")
          .select(col("id").as("_xid"), col("sh"),
            col("_nsh").as("_xnsh")), "sh")
      .observe(obsCand, count(lit(1)).as("rows"),
        count(when(sizeKeep, lit(1))).as("sized"))
      .filter(sizeKeep)
      .select(least(col("_pid"), col("_xid")).as("id_a"),
        greatest(col("_pid"), col("_xid")).as("id_b"))
      .distinct()
      .observe(obsPairs, count(lit(1)).as("rows"))
  }

  /** Prefix-filter containment detection end to end: containment-recall
    * candidates ([[prefixContainmentCandidatePairs]]) verified with the
    * exact token-containment metric of d34 — same tokenization, same
    * rounding, same either-direction threshold, via the shared
    * [[finalizeContainment]]. Output (id_a, id_b, c_ab, c_ba). */
  def prefixVerifiedContainmentPairs(docs: DataFrame, idCol: String,
                                     textCol: String, threshold: Double,
                                     shingleSize: Int = 3): DataFrame = {
    val cand = prefixContainmentCandidatePairs(docs, idCol, textCol,
      threshold, shingleSize)
    val arrs = tokenArrays(docs, idCol, textCol)
    val obsVer = Counters.register("d35_containment_prefix", "verified",
      Observation("d35_verified"))
    finalizeContainment(
      pairIntersections(cand, "id_a", "id_b", arrs, arrs), threshold)
      .observe(obsVer, count(lit(1)).as("rows"))
  }

  /** Asymmetric containment GATE: which of the NEW docs (a micro-batch
    * or small delta) are largely CONTAINED in something already in the
    * corpus — the quote/subset admission check that the resemblance
    * gate ([[lshVerifiedPairsAgainst]]) structurally misses when the
    * arriving doc is a small fragment of a big corpus page.
    *
    * Candidates band over the smaller side's shingles only (the d35
    * prefix filter, probe = the ARRIVING side): each new doc probes
    * with its ⌊(1e6−round(t·1e6))·nsh div 1e6⌋+3 first shingles in the
    * (corpus df asc, shingle) order — shingles unseen in the corpus
    * rank rarest via df 0 — against the corpus shingle inverted index;
    * by pigeonhole every new doc with shingle containment ≥ t in some
    * corpus doc becomes a candidate, at any length ratio. Verification
    * is the shared exact token-containment metric; output
    * (id_a = new, id_b = corpus, c_ab, c_ba) where either direction
    * reaches the threshold.
    *
    * Shape at scale: the corpus-side shingle index and df table are
    * corpus-sized but BATCH-INDEPENDENT — streaming callers should
    * localCheckpoint/stage them once ([[containmentGateStream]] does);
    * per batch only the (small) probe prefix shuffles against them. */
  def prefixContainmentPairsAgainst(newDocs: DataFrame, corpus: DataFrame,
                                    idCol: String, textCol: String,
                                    threshold: Double,
                                    shingleSize: Int = 3): DataFrame =
    prefixContainmentPairsAgainstIndex(newDocs,
      ContainmentIndex.build(corpus, idCol, textCol, shingleSize),
      idCol, textCol, threshold, shingleSize)

  /** The corpus-side state of the containment gate: shingle inverted
    * index, shingle df table (the prefix-filter global order), per-id
    * shingle counts (the AllPairs size filter), per-id distinct token
    * ARRAYS (verification — one row per doc, r15) and token sizes
    * (the per-id size table kept for external stats consumers; the
    * gate reads sizes off the arrays). Built once per corpus; `pinned`
    * localCheckpoints every frame so a streaming caller pays the
    * corpus scans once, not per micro-batch. */
  final case class ContainmentIndex(sh: DataFrame, df: DataFrame,
                                    shSizes: DataFrame,
                                    toks: DataFrame, sizes: DataFrame) {
    def pinned: ContainmentIndex = ContainmentIndex(
      sh.localCheckpoint(), df.localCheckpoint(),
      shSizes.localCheckpoint(),
      toks.localCheckpoint(), sizes.localCheckpoint())
  }
  object ContainmentIndex {
    def build(corpus: DataFrame, idCol: String, textCol: String,
              shingleSize: Int = 3): ContainmentIndex = {
      // spread BEFORE the shingle explode (r14, guide §2.5)
      val sh = ExprUtils.spread(corpus).select(col(idCol).as("id"),
        explode(shingles(col(textCol), shingleSize)).as("sh"))
      ContainmentIndex(sh,
        sh.groupBy("sh").agg(count(lit(1)).as("_df")),
        sh.groupBy("id").agg(count(lit(1)).as("_nsh")),
        tokenArrays(corpus, idCol, textCol),
        distinctTokenSizes(corpus, idCol, textCol))
    }

    /** Persist an index as five bucketed staging tables
      * (`<prefix>_sh/_df/_shsizes/_toks/_sizes`) so a RECURRING gate
      * (a daily admission run, a long-lived stream restarting across
      * sessions) amortizes the corpus scans across runs instead of
      * re-deriving the index per session — `pinned` only survives one
      * SparkContext. Bucket keys follow the gate's join keys: `_df`
      * by shingle; `_sh`/`_shsizes`/`_toks`/`_sizes` by id, so the
      * gate's one corpus-side id join (`sh ⋈ shSizes`) plans with no
      * Exchange on either corpus-sized side, and the verification
      * joins read co-bucketed token/size tables. At 100 TB these ARE
      * the staging tables the d35 comment promises — corpus-sized on
      * disk, written once per corpus version. */
    def save(index: ContainmentIndex, tablePrefix: String,
             buckets: Int = 32): Unit = {
      graft.io.TableLayout.writeBucketed(index.sh,
        s"${tablePrefix}_sh", "id", buckets)
      graft.io.TableLayout.writeBucketed(index.df,
        s"${tablePrefix}_df", "sh", buckets)
      graft.io.TableLayout.writeBucketed(index.shSizes,
        s"${tablePrefix}_shsizes", "id", buckets)
      graft.io.TableLayout.writeBucketed(index.toks,
        s"${tablePrefix}_toks", "id", buckets)
      graft.io.TableLayout.writeBucketed(index.sizes,
        s"${tablePrefix}_sizes", "id", buckets)
    }

    /** Reload a [[save]]d index. The frames come back with the
      * bucketed layout, so downstream id joins stay exchange-free —
      * no `pinned` call needed (the tables are already materialized;
      * a localCheckpoint on top would only copy them into block
      * storage). */
    def load(spark: org.apache.spark.sql.SparkSession,
             tablePrefix: String): ContainmentIndex = ContainmentIndex(
      graft.io.TableLayout.readTable(spark, s"${tablePrefix}_sh"),
      graft.io.TableLayout.readTable(spark, s"${tablePrefix}_df"),
      graft.io.TableLayout.readTable(spark, s"${tablePrefix}_shsizes"),
      graft.io.TableLayout.readTable(spark, s"${tablePrefix}_toks"),
      graft.io.TableLayout.readTable(spark, s"${tablePrefix}_sizes"))
  }

  /** [[prefixContainmentPairsAgainst]] against a prebuilt (optionally
    * pinned) corpus [[ContainmentIndex]]. */
  def prefixContainmentPairsAgainstIndex(newDocs: DataFrame,
                                         index: ContainmentIndex,
                                         idCol: String, textCol: String,
                                         threshold: Double,
                                         shingleSize: Int = 3): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    val newSh = newDocs.select(col(idCol).as("id"),
      explode(shingles(col(textCol), shingleSize)).as("sh"))
    val sizes = newSh.groupBy("id").agg(count(lit(1)).as("_nsh"))
    val tMicro = math.round(threshold * 1e6)
    val slackMicro = 1000000L - tMicro
    // shingles unseen in the corpus rank rarest (df 0) — any total
    // order preserves the pigeonhole guarantee; corpus-df keeps the
    // probe leading with its most selective shingles
    val prefix = newSh.join(index.df, Seq("sh"), "left")
      .withColumn("_df", coalesce(col("_df"), lit(0L)))
      .withColumn("_rk", row_number().over(
        Window.partitionBy("id").orderBy(col("_df"), col("sh"))))
      .join(sizes, "id")
      .filter(col("_rk") <=
        expr(s"($slackMicro * _nsh) div 1000000") + lit(3L))
      .select(col("id").as("id_a"), col("sh"),
        col("_nsh").as("_pnsh"))
    // the batch side broadcasts (small by construction); the corpus
    // index streams past it, so corpus size never enters a shuffle.
    // AllPairs size filter on the guaranteed (arriving-contained)
    // direction: a corpus doc with nsh·1e6 < t_micro·nsh(probe) − 1e6
    // cannot contain the probe at shingle level (the reverse direction
    // — corpus-doc-inside-the-arrival — is not this gate's contract).
    val cand = broadcast(prefix)
      .join(index.sh.join(index.shSizes, "id")
          .select(col("id").as("id_b"), col("sh"),
            col("_nsh").as("_xnsh")), "sh")
      .filter(col("_xnsh") * lit(1000000L) >=
        lit(tMicro) * col("_pnsh") - lit(1000000L))
      .select("id_a", "id_b").distinct()
    finalizeContainment(
      pairIntersections(cand, "id_a", "id_b",
        tokenArrays(newDocs, idCol, textCol), index.toks), threshold)
  }

  /** Streaming form of the containment gate: the corpus
    * [[ContainmentIndex]] is built and PINNED once, then every
    * micro-batch of arriving docs probes it and hands the verified
    * pairs (with `batch_id`) to `sink` — like [[nearDupGateStream]],
    * but catching the fragment⊂corpus shape the resemblance gate
    * misses. */
  def containmentGateStream(docs: DataFrame, corpus: DataFrame,
                            idCol: String, textCol: String,
                            threshold: Double, shingleSize: Int = 3)
                           (sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val index = ContainmentIndex.build(corpus, idCol, textCol,
      shingleSize).pinned
    Monitor.each(docs)(prefixContainmentPairsAgainstIndex(_, index, idCol,
      textCol, threshold, shingleSize))(sink)
  }

  /** Shared finalization — |union| from per-doc set sizes, the jaccard
    * formula, threshold inclusivity, and the 6-digit rounding — so no
    * near-dup path can drift from the others. `inter` must expose
    * (idACol, idBCol, i, na, nb) — the [[pairIntersections]] shape,
    * sizes already attached. */
  private def finalizeJaccard(inter: DataFrame, idACol: String,
                              idBCol: String,
                              threshold: Double): DataFrame =
    inter
      .withColumn("jaccard",
        col("i").cast("double") / (col("na") + col("nb") - col("i")))
      .filter(col("jaccard") >= threshold)
      .select(col(idACol), col(idBCol),
        round(col("jaccard"), 6).as("jaccard"))

  /** Incremental near-dup GATE: which of the NEW docs (a micro-batch,
    * or any small delta) near-duplicate something already in the
    * CORPUS. LSH candidates between the two sides — the new side's
    * band rows are broadcast (a batch is small by construction; the
    * corpus streams past them, so corpus size never enters a shuffle)
    * — then exact token-Jaccard on candidates only. Output:
    * (id_new, id_corpus, jaccard) with jaccard >= threshold. */
  def lshVerifiedPairsAgainst(newDocs: DataFrame, corpus: DataFrame,
                              idCol: String, textCol: String,
                              threshold: Double, shingleSize: Int = 3,
                              k: Int = 12, bands: Int = 4): DataFrame =
    lshVerifiedPairsAgainstIndex(newDocs,
      ResemblanceIndex.build(corpus, idCol, textCol, shingleSize, k,
        bands),
      idCol, textCol, threshold, shingleSize, k, bands)

  /** The corpus-side state of the RESEMBLANCE gate — the durable-index
    * companion the containment gate already had: banded portable
    * MinHash signature rows (the candidate join side), per-id distinct
    * token ARRAYS (verification — one row per doc, r15) and token
    * sizes (kept for external stats consumers; the gate reads sizes
    * off the arrays). Built once per corpus; `pinned`
    * localCheckpoints every frame for a single-session stream;
    * [[ResemblanceIndex.save]]/[[ResemblanceIndex.load]] persist it as
    * bucketed staging tables for recurring cross-session gates. */
  final case class ResemblanceIndex(bandRows: DataFrame, toks: DataFrame,
                                    sizes: DataFrame) {
    def pinned: ResemblanceIndex = ResemblanceIndex(
      bandRows.localCheckpoint(), toks.localCheckpoint(),
      sizes.localCheckpoint())
  }
  object ResemblanceIndex {
    def build(corpus: DataFrame, idCol: String, textCol: String,
              shingleSize: Int = 3, k: Int = 12, bands: Int = 4)
        : ResemblanceIndex = ResemblanceIndex(
      portableBandRows(corpus, idCol, textCol, shingleSize, k, bands),
      tokenArrays(corpus, idCol, textCol),
      distinctTokenSizes(corpus, idCol, textCol))

    /** Persist as three bucketed staging tables
      * (`<prefix>_bands/_toks/_sizes`), bucket keys following the
      * gate's join keys: band rows by `band_hash` (the candidate
      * join), token rows and sizes by `id` (the verification joins) —
      * so a recurring gate amortizes the corpus signature scan across
      * sessions and the corpus-sized sides never re-shuffle on their
      * staged keys. */
    def save(index: ResemblanceIndex, tablePrefix: String,
             buckets: Int = 32): Unit = {
      graft.io.TableLayout.writeBucketed(index.bandRows,
        s"${tablePrefix}_bands", "band_hash", buckets)
      graft.io.TableLayout.writeBucketed(index.toks,
        s"${tablePrefix}_toks", "id", buckets)
      graft.io.TableLayout.writeBucketed(index.sizes,
        s"${tablePrefix}_sizes", "id", buckets)
    }

    def load(spark: org.apache.spark.sql.SparkSession,
             tablePrefix: String): ResemblanceIndex = ResemblanceIndex(
      graft.io.TableLayout.readTable(spark, s"${tablePrefix}_bands"),
      graft.io.TableLayout.readTable(spark, s"${tablePrefix}_toks"),
      graft.io.TableLayout.readTable(spark, s"${tablePrefix}_sizes"))

    /** Fold an ADMITTED batch into a [[save]]d index: the batch's band
      * rows / token rows / token sizes append to the staging tables
      * (bucketed appends validate the bucket spec, so the layout — and
      * the exchange-free join property — survives). This closes the
      * incremental-admission loop: gate a batch against the index,
      * admit the survivors, `append` them, and the NEXT batch's gate
      * sees them as corpus members — no corpus rebuild anywhere. Cost
      * per append is one scan of the BATCH (signature + tokenization),
      * never of the corpus. The one index frame that is NOT
      * batch-local — a corpus-df prefix order — belongs to the
      * containment index, which is why that one rebuilds instead. */
    def append(index: ResemblanceIndex, tablePrefix: String,
               buckets: Int = 32): Unit = {
      graft.io.TableLayout.writeBucketed(index.bandRows,
        s"${tablePrefix}_bands", "band_hash", buckets, mode = "append")
      graft.io.TableLayout.writeBucketed(index.toks,
        s"${tablePrefix}_toks", "id", buckets, mode = "append")
      graft.io.TableLayout.writeBucketed(index.sizes,
        s"${tablePrefix}_sizes", "id", buckets, mode = "append")
    }
  }

  /** [[lshVerifiedPairsAgainst]] against a prebuilt (pinned or loaded)
    * corpus [[ResemblanceIndex]]: the arriving side's band rows are
    * broadcast (a batch is small by construction), candidates come
    * from band-bucket collisions against the staged signature table,
    * and exact token-Jaccard verifies candidates against the staged
    * token/size tables — the corpus is never re-scanned per batch. */
  def lshVerifiedPairsAgainstIndex(newDocs: DataFrame,
                                   index: ResemblanceIndex,
                                   idCol: String, textCol: String,
                                   threshold: Double,
                                   shingleSize: Int = 3, k: Int = 12,
                                   bands: Int = 4): DataFrame = {
    val nb = portableBandRows(newDocs, idCol, textCol, shingleSize, k,
      bands)
    val cand = broadcast(nb).as("a").join(index.bandRows.as("b"),
        col("a.band_id") === col("b.band_id") &&
          col("a.band_hash") === col("b.band_hash"))
      .select(col("a.id").as("id_new"), col("b.id").as("id_corpus"))
      .distinct()
    finalizeJaccard(
      pairIntersections(cand, "id_new", "id_corpus",
        tokenArrays(newDocs, idCol, textCol), index.toks),
      "id_new", "id_corpus", threshold)
  }

  /** Streaming form of the gate: the corpus [[ResemblanceIndex]] is
    * built and PINNED once, then each micro-batch of incoming docs
    * probes it with [[lshVerifiedPairsAgainstIndex]] and hands the
    * verified pairs (with `batch_id`) to `sink` — the production
    * pattern for incremental corpus admission, paying the corpus
    * signature scan once per stream instead of once per micro-batch
    * (the [[containmentGateStream]] convention). */
  def nearDupGateStream(docs: DataFrame, corpus: DataFrame,
                        idCol: String, textCol: String, threshold: Double)
                       (sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val index = ResemblanceIndex.build(corpus, idCol, textCol).pinned
    Monitor.each(docs)(lshVerifiedPairsAgainstIndex(_, index, idCol,
      textCol, threshold))(sink)
  }

  /** Streaming EXACT dedup: keep the FIRST ARRIVAL of each content
    * hash, with per-key state held only inside the watermark horizon.
    * `dropDuplicates` on a stream keeps every key's state forever —
    * unbounded at corpus scale; `dropDuplicatesWithinWatermark` evicts
    * a key once the watermark passes its last-seen event time, so
    * state is bounded by the horizon's arrival volume. The documented
    * trade (same as every watermarked operator): a duplicate arriving
    * AFTER its original's state was evicted is emitted again —
    * downstream exact dedup (d1's batch form over the sink) reconciles
    * those horizon-crossing stragglers; within the horizon the stream
    * emits each content exactly once, immediately (append mode, no
    * watermark-maturation latency). Spec-proved both ways: in-horizon
    * duplicates dropped, post-eviction re-arrivals re-emitted. */
  def exactDedupStream(docs: DataFrame, textCol: String,
                       tsCol: String, delay: String): DataFrame =
    docs.withWatermark(tsCol, delay)
      .withColumn("_h", sha2(col(textCol).cast("binary"), 256))
      .dropDuplicatesWithinWatermark("_h")
      .drop("_h")

  /** One micro-batch of [[bloomGateStream]]: collapse the batch's
    * duplicate keys exactly, emit the rows whose key the STANDING
    * filter `bits` rejects (definitely new — the bits literal is
    * captured in the plan), and return that frame alongside the
    * FOLDED filter (bits OR the batch's own filter). Pure with
    * respect to the standing state: folding before the sink consumed
    * the emitted rows would mean a failed sink permanently drops the
    * batch's new keys (the probe would reject them as already-seen on
    * every retry). The fetched filters are m/64 longs — bounded
    * parameters, never data. */
  private[graft] def bloomGateBatch(batch: DataFrame, key: Column,
      mBits: Int, k: Int, bits: Seq[Long])
      : (DataFrame, Seq[Long]) = {
    import graft.functions.{BloomFilter60 => BF}
    val hashed = batch.withColumn("_h", md5Long60(key.cast("string")))
      .filter(col("_h").isNotNull)
    val novel = hashed.dropDuplicates("_h")
      .filter(!BF.mightContain(bits, mBits, k, col("_h")))
    val bf = hashed.agg(BF.agg(mBits, k, col("_h"))).head()
      .getSeq[Long](0)
    (novel.drop("_h"), bits.zip(bf).map { case (x, y) => x | y })
  }

  /** Streaming first-seen gate with BOUNDED state: a standing Bloom
    * filter of every key seen so far; each micro-batch emits only the
    * rows whose key the filter rejects, then folds the batch's own
    * filter in. [[exactDedupStream]] keeps exact per-key state inside
    * a watermark horizon — exact there, but state grows with distinct
    * keys and stragglers past the horizon re-emit; this holds m/64
    * longs FOREVER at the opposite trade: duplicates are NEVER
    * re-emitted across batches (no false negatives, ever), while a
    * new key colliding into set bits is lost at the filter's current
    * false-positive rate. That is the trade a 100 TB dedup stream
    * takes for never-growing state — size m for the expected key
    * volume and the loss rate is (1−e^(−kn/m))^k.
    *
    * Duplicates WITHIN one batch collapse exactly before the probe
    * (batch-local distinct on the hash); across batches emission is
    * at-most-once per key under the [[Monitor]] commit rule. A failed
    * sink re-emits the batch's new keys on the retry (at-least-once
    * on the failure path) instead of dropping them. */
  def bloomGateStream(docs: DataFrame, key: Column, mBits: Int, k: Int)
                     (sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    Monitor.fold(docs, new graft.functions.BloomFilter60(mBits, k).zero)(
      bloomGateBatch(_, key, mBits, k, _))(sink)

  /** Embedding-cosine near-dup candidates: deterministic
    * random-hyperplane LSH buckets (shared with [[Similarity]]), pairs
    * generated ONLY within a bucket, ranked by exact cosine. Callers
    * threshold (`filter($"cosine" >= t)`) or take top-k. At scale the
    * bucket id is the shuffle/partition key, so cost is Σ bucket², not
    * n². Recall can be raised by unioning several plane seeds. */
  def embeddingNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                            dim: Int, planes: Int = 4,
                            seed: Long = 42L): DataFrame =
    embeddingNearDupPairsWith(emb, idCol, vecCol,
      Similarity.hyperplanes(planes, dim, seed))

  /** [[embeddingNearDupPairs]] with an explicit hyperplane set (e.g.
    * data-derived planes a SQL oracle can recompute). */
  def embeddingNearDupPairsWith(emb: DataFrame, idCol: String,
                                vecCol: String,
                                hp: Seq[Seq[Double]]): DataFrame = {
    // normalize BEFORE the pair join: cosine of unit vectors is a single
    // dot product, so the per-pair cost drops from 3 array folds to 1
    val withBucket = emb.select(col(idCol).as("id"),
        ExprUtils.let(Similarity.toDouble(col(vecCol))) { v =>
          ExprUtils.let(Similarity.norm(v)) { n =>
            transform(v, x => x / n)
          }
        }.as("nv"))
      .withColumn("bucket", Similarity.lshBucket(col("nv"), hp))
    withBucket.as("a").join(withBucket.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(Similarity.dot(col("a.nv"), col("b.nv")), 6).as("cosine"))
  }

  /** Cross-document duplicated n-gram statistics — the substring-level
    * dedup signal of Lee et al., "Deduplicating Training Data Makes
    * Language Models Better" (ACL 2022): a span repeated across
    * documents is training-set duplication even when the documents'
    * overall Jaccard is low (a quoted paragraph inside an
    * otherwise-unique page), so doc-level near-dup cannot see it.
    * Per doc: distinct word n-grams, how many also occur in at least
    * one OTHER document, and the duplicated fraction.
    *
    * Distinct n-grams per doc (map-only explode) → document frequency
    * per gram (map-side combine — each doc contributes a gram once) →
    * join the gram stream back on the gram key → per-doc count,
    * left-joined to the per-doc totals so zero-gram (short) docs
    * surface with dup count 0 WITHOUT ever entering the gram shuffle —
    * at web scale a large fraction of docs is under n tokens, and an
    * `explode_outer` null-gram row per short doc would all hash to one
    * null-key partition. No broadcast: the gram table is corpus-sized.
    * Long n-grams are near-unique so the gram key is skew-free (the
    * d18 contamination argument); a pathological boilerplate span
    * makes one hot build row, which AQE skew-split handles.
    *
    * The gram stream is keyed by the gram's 64-bit hash, not the gram
    * string: an n=13 gram is a ~70-byte string and it crosses two
    * shuffles (the df aggregation, the df join), so hashing right
    * after the explode cuts the shuffled key bytes ~9× (the
    * jaccardPairs precedent). Per-doc dup counts are unchanged short
    * of an xxhash64 collision between two distinct grams of the same
    * corpus (~n²/2⁶⁴); the SQL oracle keys by the string and agrees
    * exactly. */
  def crossDocNgramStats(docs: DataFrame, idCol: String, textCol: String,
                         n: Int): DataFrame = {
    // spread BEFORE the n-gram build: the gram construction is the
    // CPU cost of this operator, and a single-row-group input would
    // run it one-threaded (r14, guide §2.5)
    val base = ExprUtils.spread(docs).select(col(idCol).as("id"),
      array_distinct(Curation.wordNgrams(col(textCol), n)).as("ga"))
    val g = base.select(col("id"), explode(col("ga")).as("gram"))
      .select(col("id"), xxhash64(col("gram")).as("gram"))
    // n_dup(id) = n_grams(id) − #{grams of id with corpus df = 1}:
    // a df=1 gram's ONE owner is its min(id), so the per-doc unique
    // count reads straight off the gram aggregate — the corpus-keyed
    // g ⋈ dfreq join-back (both sides gram-shuffled) this operator
    // shipped with is gone outright (r14, guide §2.4; min(id)
    // combines map-side like the count). Bit-equal: each g row is
    // one DISTINCT gram of the doc, so rows with df>1 = all rows −
    // rows with df=1.
    val uniq = g.groupBy("gram")
      .agg(count(lit(1)).as("df"), min(col("id")).as("mn"))
      .filter(col("df") === 1)
      .groupBy(col("mn").as("id")).agg(count(lit(1)).as("n_uniq"))
    base.select(col("id"), size(col("ga")).cast("long").as("n_grams"))
      .join(uniq, Seq("id"), "left")
      .select(col("id"), col("n_grams"),
        (col("n_grams") - coalesce(col("n_uniq"), lit(0L)))
          .as("n_dup_grams"))
      .withColumn("dup_frac",
        when(col("n_grams") > 0,
          round(col("n_dup_grams").cast("double") / col("n_grams"), 6))
          .otherwise(lit(0.0)))
  }

  /** Document-level filter on the [[crossDocNgramStats]] signal — the
    * RefinedWeb/Gopher repetition-removal rule applied ACROSS documents
    * instead of within one (d21 is the within-doc form): a document
    * whose duplicated-n-gram fraction exceeds `maxDupFrac` is mostly
    * boilerplate or syndicated copy and is dropped from the training
    * set. The comparison runs on the ROUNDED `dup_frac` (6 dp), so the
    * keep/drop decision is reproducible bit-for-bit in any engine —
    * a threshold on the raw double could flip on summation order.
    * Cost is exactly crossDocNgramStats (the filter is free); scale
    * posture inherits its skew-free long-n-gram key. */
  def dupNgramFilter(docs: DataFrame, idCol: String, textCol: String,
                     n: Int, maxDupFrac: Double): DataFrame =
    crossDocNgramStats(docs, idCol, textCol, n)
      .filter(col("dup_frac") <= maxDupFrac)
      .select(col("id"), col("n_grams"), col("dup_frac"))

  /** Maximal cross-document duplicated SPANS per document — the
    * excision half of ExactSubstr dedup (Lee et al., ACL 2022): where
    * [[dupNgramFilter]] keeps or drops WHOLE documents on the
    * duplicated-n-gram fraction, this locates the repeated regions
    * themselves so they can be removed while the host document
    * survives. A word position is covered when some cross-doc
    * duplicated n-gram starts at most n−1 words before it; the spans
    * are the maximal runs of covered words, reported as 1-based
    * inclusive word indices plus the span text.
    *
    * Shape at scale, stage by stage:
    *   - the (id, pos, gram) stream is one map-only explode, keyed by
    *     the gram's 64-bit hash right after construction (the
    *     crossDocNgramStats shuffle-byte discipline — a 13-gram string
    *     is ~70 bytes and crosses two shuffles; the oracle keys by the
    *     string and agrees short of an xxhash64 collision);
    *   - "appears in more than one document" is `min(id) ≠ max(id)`
    *     over the gram group — ONE fully-combinable aggregation pass,
    *     no count-distinct expansion;
    *   - the join back is gram-keyed and skew-free (long n-grams are
    *     near-unique, the d18 argument);
    *   - span assembly windows over DUPLICATED starts only — a corpus
    *     fraction — partitioned by doc id. Because every covering
    *     interval has the same length n, two starts p < q chain into
    *     one span iff q ≤ p + n (their covered ranges overlap or
    *     touch), so a lag-gap flag plus a running sum finds the
    *     maximal runs without interval-merging machinery;
    *   - the final id-keyed join rehydrates the token array once per
    *     spanned doc for the span-text slice. No per-word shuffle
    *     anywhere.
    *
    * Returns (id, span_start, span_end, span_words, span_text). */
  def dupSpans(docs: DataFrame, idCol: String, textCol: String,
               n: Int): DataFrame = {
    val base = docs.select(col(idCol).as("id"),
      TextStats.tokens(col(textCol)).as("toks"))
    // the text-bearing report joins the token arrays back ONLY here —
    // the surgery path consumes the bounds alone and must not pay
    // this rehydration (round-11 review)
    dupSpanBounds(base, n).join(base, "id")
      .select(col("id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1L).as("span_words"),
        concat_ws(" ", slice(col("toks"),
          col("span_start").cast("int"),
          (col("span_end") - col("span_start") + 1L).cast("int")))
          .as("span_text"))
  }

  /** The bounds-only core of [[dupSpans]] over a prepared (id, toks)
    * frame: (id, span_start, span_end), no text rehydration. */
  private def dupSpanBounds(baseIn: DataFrame, n: Int): DataFrame = {
    require(n >= 2, "n >= 2: span chaining needs multi-word grams")
    // spread BEFORE the positional gram build (r14, guide §2.5)
    val base = ExprUtils.spread(baseIn)
    val g = base.select(col("id"), explode(
        when(size(col("toks")) >= n,
          transform(sequence(lit(1), size(col("toks")) - (n - 1)),
            i => struct(i.cast("long").as("pos"),
              xxhash64(concat_ws(" ", slice(col("toks"), i, lit(n))))
                .as("gram"))))
          .otherwise(array().cast(
            "array<struct<pos:bigint,gram:bigint>>"))).as("pg"))
      .select(col("id"), col("pg.pos").as("pos"),
        col("pg.gram").as("gram"))
    val dup = g.groupBy("gram")
      .agg(min(col("id")).as("mn"), max(col("id")).as("mx"))
      .filter(col("mn") =!= col("mx"))
      .select("gram")
    val starts = g.join(dup, "gram").select(col("id"), col("pos"))
    val w = Window.partitionBy("id").orderBy("pos")
    val wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    starts
      .withColumn("f",
        when(col("pos") > lag(col("pos"), 1).over(w) + n, 1L)
          .otherwise(0L))
      .withColumn("grp", sum(col("f")).over(wc))
      .groupBy(col("id"), col("grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (n - 1)).as("span_end"))
      .select(col("id"), col("span_start"), col("span_end"))
  }

  /** String surgery on the [[dupSpans]] output: rebuild each document
    * with every duplicated span REMOVED — the ExactSubstr semantic
    * real pretraining pipelines run next to doc-level dedup (keep the
    * page, cut the syndicated paragraph). Spans aggregate to one
    * per-doc array (few per doc), ride ONE id-keyed left join onto the
    * corpus, and the excision itself is a map-only array expression —
    * a positional filter against the span list — so the corpus is
    * never exploded to words or re-collected across a shuffle. Docs
    * with no spans pass through unchanged (left join + null-safe
    * lambda); a fully-duplicated doc survives as an EMPTY string, a
    * row the caller can drop, which is exactly doc-level dedup
    * degenerating out of the span form.
    *
    * Returns (id, n_spans, n_words, n_removed, clean_text). */
  def spanExcise(docs: DataFrame, idCol: String, textCol: String,
                 n: Int): DataFrame = {
    val base = docs.select(col(idCol).as("id"),
      TextStats.tokens(col(textCol)).as("toks"))
    // bounds only: the surgery never needs span_text, so it must not
    // pay dupSpans' rehydration join + slice (round-11 review)
    val perDoc = dupSpanBounds(base, n)
      .groupBy("id")
      .agg(sort_array(collect_list(
        struct(col("span_start"), col("span_end")))).as("sp"))
    base.join(perDoc, Seq("id"), "left")
      .select(col("id"),
        coalesce(size(col("sp")), lit(0)).cast("long").as("n_spans"),
        size(col("toks")).cast("long").as("n_words"),
        coalesce(aggregate(col("sp"), lit(0L), (acc, s) =>
          acc + s.getField("span_end") - s.getField("span_start")
            + 1L), lit(0L)).as("n_removed"),
        concat_ws(" ", filter(col("toks"), (_, i) =>
          coalesce(!exists(col("sp"), sp =>
            (i + 1) >= sp.getField("span_start") &&
              (i + 1) <= sp.getField("span_end")), lit(true))))
          .as("clean_text"))
  }

  /** Benchmark DECONTAMINATION report (the GPT-3 appendix-C /
    * Dolma-pipeline step): [[graft.pipeline.Curation.contamination]]
    * — the standing d18 scan — completed into the per-document gate
    * report decontamination acts on: EVERY train document (d18
    * reports only hit docs), the distinct-gram denominator, and the
    * drop boolean. One shared gram pipeline (Curation.wordNgrams +
    * the d18 gram-keyed join), so a fix there fixes both reports —
    * this function owns only the completion join and a map-side
    * per-row gram count (size ∘ array_distinct — no second shuffle).
    *
    * Null ids: the completion join is NULL-SAFE, so rows with a null
    * id POOL their hit counts (conservative in the safe direction —
    * one leaked null-id row flags every null-id row; n_hit_grams may
    * then exceed the per-row n_grams). Supply unique ids for
    * per-row precision. Returns one row per TRAIN document:
    * (id, n_grams, n_hit_grams, contaminated).
    *
    * Gram identity is the RAW GRAM STRING on BOTH the hit join (via
    * [[graft.pipeline.Curation.contamination]], which joins gram
    * text — the d18 convention) and the denominator (distinct gram
    * strings), and the d77/d79 oracles join gram text too — so the
    * two engines are EXACTLY symmetric with no hash-collision caveat
    * anywhere (the r13 ADVICE asymmetry resolved in the strict
    * direction: r14 review found the hash-denominator fix had left a
    * string-joined numerator against a hash-joined oracle). */
  def contaminationReport(train: DataFrame, idCol: String,
                          textCol: String, bench: DataFrame,
                          benchTextCol: String, k: Int,
                          broadcastBench: Boolean = true): DataFrame = {
    require(k >= 1 && k <= 64, "k in [1, 64]")
    val hits = graft.pipeline.Curation.contamination(
      train.select(col(idCol).as("doc_id"),
        col(textCol).as("text")),
      bench.select(col(benchTextCol).as("text")), k, broadcastBench)
      .withColumnRenamed("doc_id", "_hid")
    train
      .select(col(idCol).as("id"),
        size(array_distinct(
          graft.pipeline.Curation.wordNgrams(col(textCol), k)))
          .cast("long").as("n_grams"))
      .join(hits, col("id") <=> col("_hid"), "left")
      .select(col("id"), col("n_grams"),
        coalesce(col("shared_ngrams"), lit(0L)).as("n_hit_grams"))
      .withColumn("contaminated", col("n_hit_grams") > 0L)
  }

  /** Streaming DECONTAMINATION gate: [[contaminationReport]]'s test
    * applied to a document stream — each micro-batch drops the rows
    * sharing any word k-gram with the evaluation set and emits the
    * clean remainder. Unlike the Bloom gate's growing filter, the
    * standing state is EXACT and IMMUTABLE: the benchmark's distinct
    * gram hashes, pinned once (eval suites are bounded by
    * construction — the state never grows with the stream), and the
    * per-batch test is a pure row-local decision (explode + semi-join
    * + anti-join inside the batch). Statelessness buys the strongest
    * replay story in the streaming family for free: re-delivered rows
    * re-evaluate identically, so at-least-once delivery degrades to
    * duplicate emission of CLEAN rows only — no key is ever lost and
    * no contaminated row ever leaks, under any failure interleaving.
    * The anti-join is NULL-SAFE on the id, so a contaminated row
    * with a NULL id drops every null-id row in its batch —
    * conservative in the safe direction; supply unique ids for
    * per-row precision. Gram machinery is the shared
    * [[graft.pipeline.Curation.wordNgrams]] (the d18/d77 pipeline). */
  def decontaminateStream(docs: DataFrame, idCol: String,
      textCol: String, bench: DataFrame, benchTextCol: String, k: Int)
      (sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val bg = decontaminateState(bench, benchTextCol, k)
    Monitor.each(docs)(decontaminateBatch(_, idCol, textCol, bg, k))(sink)
  }

  /** The decontamination gate's STANDING STATE, pinned once: the
    * benchmark's distinct word k-grams (exact and immutable — eval
    * suites are bounded by construction, so this never grows with
    * the stream). Shared by [[decontaminateStream]] and the d79
    * batch-replay entry so the stream and the replay audit probe the
    * IDENTICAL state frame. */
  def decontaminateState(bench: DataFrame, benchTextCol: String,
                         k: Int): DataFrame = {
    import graft.pipeline.Curation.wordNgrams
    bench
      .select(explode(array_distinct(
        wordNgrams(col(benchTextCol), k))).as("gram"))
      .distinct().localCheckpoint()
  }

  /** One micro-batch of [[decontaminateStream]]: the rows of `batch`
    * sharing NO word k-gram with the pinned benchmark gram set `bg`
    * ([[decontaminateState]]). Pure and stateless w.r.t. the stream
    * (explode + semi-join + null-safe anti-join inside the batch), so
    * replaying batches through this body in ANY order or multiplicity
    * yields exactly the one-shot [[contaminationReport]]-filtered
    * clean set — the equivalence d79 drives through the driver's
    * oracle and DedupSpec's MemoryStream redelivery test drives
    * through the real stream. */
  def decontaminateBatch(batch: DataFrame, idCol: String,
      textCol: String, bg: DataFrame, k: Int): DataFrame = {
    import graft.pipeline.Curation.wordNgrams
    val hits = batch
      .select(col(idCol).as("_cid"),
        explode(array_distinct(wordNgrams(col(textCol), k)))
          .as("gram"))
      .join(bg, "gram").select(col("_cid")).distinct()
    batch.join(hits, batch(idCol) <=> hits("_cid"), "left_anti")
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, "Winnowing:
    * Local Algorithms for Document Fingerprinting", SIGMOD 2003 — the
    * MOSS algorithm): hash every word k-gram, slide a window of w
    * consecutive hashes, and in each full window select the minimal
    * hash with the RIGHTMOST tie-break; the distinct selected
    * (hash, position) pairs are the document's fingerprints. The
    * guarantee: any shared run of at least k+w−1 words between two
    * documents yields at least one shared fingerprint HASH, at an
    * expected density of 2/(w+1) fingerprints per gram — the
    * local-fingerprinting property simhash/minhash lack (they sketch
    * whole documents; winnowing localizes like d62 but with a sketch,
    * not an exact gram join). Documents with fewer than k+w−1 words
    * have no full window and emit nothing — below fingerprint
    * resolution, the exact/minhash stages own them.
    *
    * Cross-engine exactness: grams hash through the portable
    * [[md5Long60]]; (hash, position) packs into ONE integer key
    * h·2²⁴ + (2²⁴ − pos), so "min hash, rightmost tie-break" is a
    * plain integer MIN over the trailing window frame in BOTH engines
    * (no struct-ordering or argmin conventions to align; positions
    * above 2²⁴ words would alias, far beyond any document). All
    * decimal(38,0)/HUGEINT arithmetic — h·2²⁴ ≈ 2⁸⁴ needs more than a
    * long. Shape at scale: one map-only positioned-gram explode, one
    * window per doc partition over the gram stream, one distinct —
    * nothing corpus-crossing until a caller joins fingerprints.
    * Returns (id, key) — decode h = key div 2²⁴,
    * pos = 2²⁴ − key mod 2²⁴. */
  def winnowKeys(docs: DataFrame, idCol: String, textCol: String,
                 k: Int, w: Int): DataFrame = {
    require(k >= 1 && w >= 1, "k, w >= 1")
    val M = 1L << 24
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    // spread BEFORE the per-gram md5 explode — the CPU cost of this
    // operator (r14, guide §2.5); the id-window shuffles right after
    // anyway
    val base = ExprUtils.spread(docs).select(col(idCol).as("id"),
      TextStats.tokens(col(textCol)).as("toks"))
    val g = base.select(col("id"), explode(
        when(size(col("toks")) >= k,
          transform(sequence(lit(1), size(col("toks")) - (k - 1)),
            i => struct(i.cast("long").as("pos"),
              md5Long60(concat_ws(" ", slice(col("toks"), i, lit(k))))
                .as("h"))))
          .otherwise(array().cast(
            "array<struct<pos:bigint,h:bigint>>"))).as("pg"))
      .select(col("id"), col("pg.pos").as("pos"), col("pg.h").as("h"))
    val win = Window.partitionBy("id").orderBy("pos")
      .rowsBetween(-(w - 1), 0)
    g.withColumn("key",
        min(dec(col("h")) * lit(M) + (lit(M) - col("pos"))).over(win))
      .filter(col("pos") >= w)
      .select(col("id"), col("key")).distinct()
  }

  /** Per-document winnowing report over [[winnowKeys]]:
    * (id, n_grams, n_windows, n_fp). n_fp sits in
    * [ceil(n_windows/w), n_windows] by the algorithm's guarantee
    * (at least one selection per w consecutive windows; at most one
    * per window) — WinnowSpec asserts the envelope. */
  def winnowSummary(docs: DataFrame, idCol: String, textCol: String,
                    k: Int, w: Int): DataFrame =
    winnowSummaryFromKeys(docs, idCol, textCol, k, w,
      winnowKeys(docs, idCol, textCol, k, w))

  /** The [[winnowSummary]] report over an ALREADY-computed (id, key)
    * fingerprint frame — the staged-artifact form (the
    * [[winnowedPairsFromKeys]] split applied to the summary): a
    * production run fingerprints the corpus snapshot once and both
    * the per-doc report and the pair matching read the staging
    * table. `keys` must be `winnowKeys(docs, idCol, textCol, k, w)`
    * for the SAME parameters — the gram/window arithmetic here
    * re-derives from (k, w). */
  def winnowSummaryFromKeys(docs: DataFrame, idCol: String,
                            textCol: String, k: Int, w: Int,
                            keys: DataFrame): DataFrame = {
    val fp = keys
      .groupBy("id").agg(count(lit(1)).as("n_fp"))
    docs.select(col(idCol).as("id"),
        greatest(size(TextStats.tokens(col(textCol))) - (k - 1),
          lit(0)).cast("long").as("n_grams"))
      .withColumn("n_windows",
        greatest(col("n_grams") - (w - 1), lit(0L)))
      .join(fp, Seq("id"), "left")
      .select(col("id"), col("n_grams"), col("n_windows"),
        coalesce(col("n_fp"), lit(0L)).as("n_fp"))
  }

  /** Cross-document fingerprint matching over [[winnowKeys]] — the
    * MOSS report: pairs of documents sharing at least `minShared`
    * distinct fingerprint HASHES (positions stripped — a moved quote
    * still matches). Fingerprint hashes with document frequency above
    * `maxDf` are dropped BEFORE pairing: a boilerplate fingerprint
    * shared by f docs would emit f² pair rows (the d29 heavy-hitter
    * guard applied to the join key — ubiquitous spans carry no
    * plagiarism signal and are exactly what the df cap removes at any
    * corpus size). Pair volume is therefore bounded by Σ min(df,
    * maxDf)² per hash. Returns (id_a, id_b, n_shared). */
  def winnowedPairs(docs: DataFrame, idCol: String, textCol: String,
                    k: Int, w: Int, maxDf: Int = 20,
                    minShared: Int = 2): DataFrame =
    winnowedPairsFromKeys(winnowKeys(docs, idCol, textCol, k, w),
      maxDf, minShared)

  /** The matching tail of [[winnowedPairs]] over an ALREADY-computed
    * (id, key) fingerprint frame — exposed separately because winnow
    * fingerprints are a PER-DOCUMENT function: a standing fingerprint
    * INDEX maintains itself append-only (keys(A ∪ B) = keys(A) ∪
    * keys(B), no cross-doc state to re-converge, unlike the LSH
    * band index's verified pairs or CC's star edges), and matching is
    * a query against the accumulated keys. d68 replays exactly that:
    * three batch key-frames unioned must match the one-shot d66
    * bit-for-bit. */
  def winnowedPairsFromKeys(keys: DataFrame, maxDf: Int,
                            minShared: Int): DataFrame = {
    val M = 1L << 24
    val fh = keys
      .select(col("id"),
        ((col("key") - pmod(col("key"), lit(M))) / lit(M))
          .cast("decimal(38,0)").as("h"))
      .distinct()
    val keepH = fh.groupBy("h").agg(count(lit(1)).as("_df"))
      .filter(col("_df") <= maxDf).select("h")
    val kept = fh.join(keepH, "h")
    kept.as("a").join(kept.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** SemDeDup (Abbas et al. 2023): semantic deduplication over an
    * embedding column — cluster the corpus cheaply, then drop all but
    * one member of every within-cluster group of near-identical
    * vectors. Clustering here is the deterministic sign-bit LSH bucket
    * of [[embeddingNearDupPairsWith]] (at 100 TB the bucket key doubles
    * as the storage partition, so the pair join is co-located); the
    * keep rule is "drop any id that has a SMALLER id in the same
    * bucket with cosine > minCosine". Because candidate pairs are
    * canonical (id_a < id_b), the drop set is exactly `distinct(id_b)`
    * of the thresholded pairs — one semi-structured pass, no
    * transitive closure (that heavier machinery is [[dupComponents]];
    * SemDeDup deliberately prunes greedily within clusters).
    * The threshold compares the ROUNDED cosine (6 dp) so the decision
    * replays exactly in a SQL oracle. The final anti-join shuffles on
    * the id key with NO broadcast hint: the drop side is a corpus
    * fraction, unbounded at scale (the d1/llm_clean_cc argument). */
  def semanticDedupKeep(emb: DataFrame, idCol: String, vecCol: String,
                        hp: Seq[Seq[Double]],
                        minCosine: Double): DataFrame = {
    val drop = semanticDupIds(emb, idCol, vecCol, hp, minCosine)
    emb.join(drop, emb(idCol) === drop("drop_id"), "left_anti")
  }

  /** The DROP side of [[semanticDedupKeep]]: ids with a smaller-id
    * same-bucket neighbor above the threshold. Use THIS (via anti-join)
    * when filtering a table that may have rows WITHOUT an embedding —
    * a semi-join on the kept embeddings would silently drop every
    * uncovered row, which is wrong for a partial-coverage corpus
    * (embeddings typically exist for a subset of documents). */
  def semanticDupIds(emb: DataFrame, idCol: String, vecCol: String,
                     hp: Seq[Seq[Double]], minCosine: Double): DataFrame =
    embeddingNearDupPairsWith(emb, idCol, vecCol, hp)
      .filter(col("cosine") > minCosine)
      .select(col("id_b").as("drop_id")).distinct()

  // ---- near-dup clusters: connected components ----------------------

  /** One large-star round: hang every neighbor LARGER than u off the
    * minimum of u's closed neighborhood. Input/output are canonical
    * undirected pairs (u < v), distinct, no self-loops. */
  private def largeStar(e: DataFrame): DataFrame = {
    val d = e.select(col("u"), col("v"))
      .union(e.select(col("v").as("u"), col("u").as("v")))
    val m = d.groupBy("u").agg(min("v").as("mv"))
      .select(col("u").as("lu"), least(col("u"), col("mv")).as("m"))
    // for v > u: m <= u < v, so (m, v) is already canonical
    d.join(m, col("u") === col("lu"))
      .filter(col("v") > col("u"))
      .select(col("m").as("u"), col("v").as("v"))
      .distinct()
  }

  /** One small-star round: orient each edge toward its larger
    * endpoint, then hang u and all its smaller neighbors off the
    * minimum among them. Canonical pairs in, canonical pairs out. */
  private def smallStar(e: DataFrame): DataFrame = {
    val d = e.select(col("v").as("u"), col("u").as("v")) // v < u now
    val m = d.groupBy("u").agg(min("v").as("mv")) // mv < u always
      .select(col("u").as("su"), col("mv").as("m"))
    val withM = d.join(m, col("u") === col("su"))
    // smaller neighbors v != m hang under m (m <= v, v != m => m < v)
    val hung = withM.filter(col("v") =!= col("m"))
      .select(col("m").as("u"), col("v").as("v"))
    // u itself hangs under m (m < u by construction)
    val self = m.select(col("m").as("u"), col("su").as("v"))
    hung.union(self).distinct()
  }

  /** Connected components of an undirected pair list — the
    * pairs→CLUSTERS stage of dedup. Near-dup pairs are not clusters:
    * dropping the higher id of each pair still keeps both `b` and `c`
    * of the chain a−b, b−c; the component id is the transitive answer,
    * and at 100 TB it cannot be a driver-side union-find.
    *
    * Alternating large-star / small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", ACM SoCC 2014):
    * each round re-hangs nodes under the minimum of a neighborhood, so
    * components contract toward their minimum id in O(log² n) rounds
    * REGARDLESS of diameter — plain min-label propagation needs
    * O(diameter) rounds, and a 10⁶-doc boilerplate chain would run 10⁶
    * of them — while the edge count never exceeds the input's (the
    * paper's size invariant), so no round shuffles more than the
    * original pair set. Each round is two aggregation+join passes over
    * the shrinking edge set, run through the graph family's one round
    * driver ([[Rounds]]), which pins every round lazily.
    *
    * Stop test: `next` is a STAR FOREST — every leaf (the larger end
    * `v` of a canonical edge) has exactly one centre, and no centre
    * is also a leaf. One aggregate over `next` alone, one action per
    * round, exact (no hash, no sample). Why it is exact: both star
    * operations keep each component's node set and connectivity (the
    * paper's invariant), so `next` has the input's components. In a
    * star forest each star is one component; its centre is smaller
    * than every leaf (edges are canonical, u < v), so the centre IS
    * the component minimum and the min-neighbor read-out below
    * returns it for every node. Conversely a star forest rooted at
    * minima is the algorithm's fixed point (large-star and small-star
    * both map it to itself), so the test fires on the first round
    * whose output is the answer, without a second round to see the
    * fixed point repeat. Not converging within [[CcRoundCap]] rounds
    * is an `IllegalArgumentException`.
    *
    * At convergence the edges form stars rooted at each component's
    * minimum id. Output: (id, component) for every node of `pairs`,
    * component = the minimum id reachable. Nodes appearing in no pair
    * are singletons by definition and are not emitted — left-join +
    * `coalesce(component, id)` rebuilds the total corpus mapping
    * without shuffling the corpus through the iteration. */
  def connectedComponents(pairs: DataFrame, idACol: String,
                          idBCol: String): DataFrame = {
    val init = Rounds.pin(pairs
      .select(least(col(idACol), col(idBCol)).as("u"),
        greatest(col(idACol), col(idBCol)).as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull &&
        col("u") =!= col("v"))
      .distinct())
    val run = Rounds.until("connected_components", CcRoundCap,
        CcPinEvery, init)((e, _) => smallStar(largeStar(e))) {
      (_, next, _) =>
        val ends = next.select(col("u").as("id"), lit(0L).as("leaf"),
            lit(true).as("centre"))
          .unionAll(next.select(col("v").as("id"), lit(1L).as("leaf"),
            lit(false).as("centre")))
          .groupBy("id")
          .agg(sum("leaf").as("leaf"), max("centre").as("centre"))
        ends.agg(count(when(col("leaf") > 1L ||
          (col("leaf") === 1L && col("centre")), 1)) === 0L)
    }
    require(run.stopped,
      s"connectedComponents did not converge within $CcRoundCap rounds")
    val edges = run.state
    val d = edges.select(col("u"), col("v"))
      .union(edges.select(col("v").as("u"), col("u").as("v")))
    d.groupBy("u").agg(min("v").as("mv"))
      .select(col("u").as("id"), least(col("u"), col("mv")).as("component"))
  }

  /** Round cap of [[connectedComponents]]: O(log² n) rounds sit far
    * below it on any real graph (a 256-node path takes under 10). */
  private val CcRoundCap = 50

  /** Every CC round runs the stop test, so every round pins. */
  private val CcPinEvery = 1

  /** The star-edge form of a computed clustering: (component, id) for
    * every non-root node — exactly the shape [[connectedComponents]]
    * converges to, reusable as the standing state for incremental
    * maintenance. */
  def componentStarEdges(assign: DataFrame): DataFrame =
    assign.filter(col("id") =!= col("component"))
      .select(col("component").as("u"), col("id").as("v"))

  /** Incremental cluster maintenance: fold a NEW batch of near-dup
    * pairs (e.g. from [[lshVerifiedPairsAgainst]] on arriving docs)
    * into an existing clustering without recomputing it from raw
    * pairs. The standing state is the star-edge set of the previous
    * assignment — already the algorithm's fixed point — so the union
    * with a batch of new pairs re-converges in one or two contraction
    * rounds (new edges either hang new nodes onto existing stars or
    * splice two stars, both resolved by a single large-star +
    * small-star pass); cost per batch is proportional to cluster
    * state touched by the batch, not corpus history. Returns the full
    * updated (id, component) assignment over EVERY id of the input
    * assignment plus every id in the new pairs: `assign` may be a
    * corpus-total mapping carrying (id, id) singleton rows — the
    * contraction only sees ids on some edge, so singletons untouched
    * by the batch are re-attached afterwards with their identity
    * component. */
  def mergeComponents(assign: DataFrame, newPairs: DataFrame,
                      idACol: String, idBCol: String): DataFrame = {
    val stars = componentStarEdges(assign)
      .union(newPairs.select(col(idACol).as("u"), col(idBCol).as("v")))
    val merged = connectedComponents(stars, "u", "v")
    // full-outer on id: merged-only ids are new docs from the batch,
    // assign-only ids are untouched singletons (roots and non-roots of
    // touched clusters all sit on a star edge, so they are in merged)
    assign.select(col("id"))
      .join(merged, Seq("id"), "full_outer")
      .select(col("id"),
        coalesce(col("component"), col("id")).as("component"))
  }

  /** Cluster-size histogram of a computed component assignment —
    * (cluster_size, n_clusters, n_docs), the one-screen dedup report
    * (how much of the corpus sits in 2-clusters vs giant components
    * drives the survivor policy). Takes the (id, component) frame a
    * pipeline has ALREADY computed ([[connectedComponents]] /
    * [[mergeComponents]] output) so composed callers never pay a
    * LSH+verify+CC re-run for a report: it is two bounded groupBys —
    * component-cardinality in, cluster-size-cardinality out, nothing
    * corpus-sized past the first partial aggregation. */
  def clusterSizeHistogram(components: DataFrame,
                           componentCol: String = "component")
      : DataFrame =
    components
      .groupBy(componentCol).agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(
        count(lit(1)).as("n_clusters"),
        sum(col("cluster_size")).as("n_docs"))

  /** Canonical survivor per cluster by QUALITY instead of min-id: for
    * each component of a computed assignment, the member with the
    * highest `score` (ties by smallest id) — the production survivor
    * policy when clusters are large and heterogeneous (keep the
    * longest / highest-quality copy, not the accidentally-smallest
    * id). `scores` is any (id, score) frame — n_chars, the d3 quality
    * score, a model score.
    *
    * Skew-safe by construction: the argmax is a map-side-combining
    * `min(struct(-score, id))` aggregation, never a window — the
    * most-duplicated boilerplate cluster in a web corpus can hold 10⁸
    * members, and a `row_number over (partition by component)` would
    * funnel all of them through one task's sort (the exactDedup
    * argument). Output: (component, canonical_id, cluster_size). */
  def canonicalByScore(components: DataFrame,
                       scores: DataFrame): DataFrame =
    components.join(scores, "id")
      .groupBy("component")
      .agg(min(struct((-col("score")).as("ns"), col("id").as("cid")))
          .as("_m"),
        count(lit(1)).as("cluster_size"))
      .select(col("component"), col("_m.cid").as("canonical_id"),
        col("cluster_size"))

  /** Token-set Jaccard similarity pairs within blocking keys:
    * explode distinct tokens, equi-join on (token, blocking keys),
    * count intersections, derive |union| from per-doc set sizes.
    * Blocking bounds the candidate space (LSH-style); the join never
    * goes all-pairs. */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                   blockCols: Seq[String], threshold: Double): DataFrame = {
    // join on the token's 64-bit hash, not the string: narrower shuffle
    // key and cheaper equality (~30% faster at sf0.1); intersection
    // counts are unchanged short of an xxhash64 collision (~n²/2⁶⁴)
    val tok = docs.select(
        (col(idCol).as("id") +: blockCols.map(col)) :+
          explode(array_distinct(split(col(textCol), " "))).as("t"): _*)
      .withColumn("t", xxhash64(col("t")))
    // per-doc distinct-token counts straight off the docs table — a
    // narrow per-row expression instead of re-exploding tok and
    // re-aggregating it (one less shuffle over the exploded relation)
    val sizes = docs.select(col(idCol).as("id"),
      size(array_distinct(split(col(textCol), " "))).cast("long").as("n"))
    val joinCond = col("a.t") === col("b.t") &&
      blockCols.map(c => col(s"a.$c") === col(s"b.$c"))
        .foldLeft(col("a.id") < col("b.id"))(_ && _)
    val inter = tok.as("a").join(tok.as("b"), joinCond)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("i"))
    // no broadcast hint on the sizes table: it is O(corpus rows), which
    // at 100 TB would blow past driver/broadcast limits — AQE picks
    // broadcast when it actually fits, shuffle-join on id otherwise
    // (cheap next to the pair join either way)
    val withSizes = inter
      .join(sizes.withColumnRenamed("id", "id_a")
        .withColumnRenamed("n", "na"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b")
        .withColumnRenamed("n", "nb"), "id_b")
    finalizeJaccard(withSizes, "id_a", "id_b", threshold)
  }
}
