package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One convergence-stopped PageRank run: the final rank vector, how
  * many iterations ran, whether the last measured delta was within
  * epsMicro, and how many blocking convergence probes were issued
  * (the probe-batching contract — ≈ iterations / checkpointEvery). */
final case class PageRankRun(ranks: DataFrame, iterations: Int,
                             converged: Boolean, probes: Int)

/** Iterative graph scoring over pair lists — the step AFTER dedup
  * clustering ([[Dedup.connectedComponents]]) when a pipeline wants to
  * rank within the duplicate/similarity graph rather than merely
  * partition it: PageRank centrality picks each cluster's most
  * "load-bearing" document (the one most near-dup-connected), a better
  * canonical-survivor policy than min-id when clusters are large and
  * heterogeneous.
  *
  * All arithmetic is INTEGER micro-units end to end (the d28/e13
  * discipline): ranks are longs, per-edge contributions use exact
  * integral division (`div`), and the only floating step — the damping
  * product — is a single IEEE double multiply + half-up round that
  * every engine computes bit-identically. Rank vectors are therefore
  * order-independent under Spark's partial aggregation and replayable
  * in a SQL oracle as chained CTEs, one per iteration.
  */
object GraphOps {

  /** Undirected PageRank in micro-units over a pair list.
    *
    * Nodes are the ids appearing in `pairs` (either side); each pair
    * contributes both directed edges. Iteration t+1:
    *
    *   r(v) = round((1−d)·1e6) + round(d · Σ_{u→v} (r(u) div deg(u)))
    *
    * with r₀(v) = 1e6 for every node — the unnormalized formulation,
    * so scores are comparable across corpus sizes and no 1/N constant
    * needs cross-engine agreement.
    *
    * Shape at scale: deg and the node set are one aggregation over the
    * edge list; every iteration is one edges⋈ranks equi-join on the
    * source id plus a partial-aggregating groupBy on the destination —
    * the corpus itself is never touched, only the (much smaller) pair
    * graph shuffles, co-partitioned on the node id across iterations.
    * A fixed iteration count keeps the oracle expressible. Runs with
    * many iterations should truncate lineage per round exactly as
    * [[Dedup.connectedComponents]] does: `checkpointEvery = n` cuts
    * the plan with an eager `localCheckpoint` after every n-th
    * iteration (0 — the default, right for the oracle-expressible 3
    * rounds — never checkpoints; the plan grows two joins per
    * iteration otherwise, which the optimizer re-walks per action).
    */
  def pageRankMicro(pairs: DataFrame, idACol: String, idBCol: String,
                    iterations: Int = 3,
                    damping: Double = 0.85,
                    checkpointEvery: Int = 0): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    require(damping > 0 && damping < 1, "damping must be in (0, 1)")
    require(checkpointEvery >= 0, "checkpointEvery must be >= 0")
    val (edges, deg) = edgesAndDegrees(pairs, idACol, idBCol)
    var ranks = deg.select(col("src").as("id"),
      lit(1000000L).as("rank_micro"))
    for (it <- 1 to iterations) {
      ranks = pageRankStep(edges, deg, ranks, damping)
      if (checkpointEvery > 0 && it % checkpointEvery == 0 &&
        it < iterations)
        ranks = ranks.localCheckpoint()
    }
    ranks
  }

  /** Convergence-stopped PageRank — the production form next to the
    * oracle-expressible fixed-iteration [[pageRankMicro]]: iterates
    * until no node's rank moved by more than `epsMicro` micro-units
    * between rounds (or `maxIterations`), checkpointing every
    * `checkpointEvery` rounds so the plan depth stays bounded however
    * long convergence takes. The convergence probe — a 1-row
    * max-aggregate fetch over the two rank vectors joined on id, both
    * node-sized and co-partitioned; nothing data-sized reaches the
    * driver — runs ONLY on checkpoint rounds, folded into the
    * checkpoint barrier the loop already pays, never as a per-round
    * blocking job (a per-round probe was measured driver-probe
    * dominated: 76 blocking jobs on a 76-round run, 44 s on a graph
    * whose rank steps cost far less). The cost of batching is a
    * bounded OVERSHOOT: convergence reached between probes is noticed
    * at the next probe, so up to `checkpointEvery − 1` extra rounds
    * run — and because the residual decays geometrically those rounds
    * move every rank by at most epsMicro·damping/(1−damping)
    * micro-units past the stopping point, noise-floor scale by the
    * epsMicro contract below. Integer micro-ranks make the stopped vector exact and
    * engine-reproducible.
    *
    * Choosing epsMicro: the residual decays geometrically at rate
    * `damping` until it hits the integer ROUNDING NOISE FLOOR, where
    * the per-iteration rounding can sustain a small limit cycle
    * instead of reaching delta 0 — measured on the sf0.1 near-dup
    * graph: delta falls 1.1e6 → 4 over ~75 rounds, then cycles at
    * amplitude 4 forever (PLANS.md "Hub-skew rehearsal").
    * Production runs should therefore set epsMicro to a
    * few micro-units (noise-floor scale, ~1e-6 of a unit rank —
    * far below any ranking decision) rather than 0, and check the
    * `converged` flag of [[pageRankUntilStats]] instead of trusting
    * maxIterations. Expected rounds to a target eps:
    * log(n·1e6/eps)/log(1/damping). */
  def pageRankUntil(pairs: DataFrame, idACol: String, idBCol: String,
                    epsMicro: Long = 0L, maxIterations: Int = 50,
                    damping: Double = 0.85,
                    checkpointEvery: Int = 5): DataFrame =
    pageRankUntilStats(pairs, idACol, idBCol, epsMicro, maxIterations,
      damping, checkpointEvery)._1

  /** [[pageRankUntil]] plus its run stats — (ranks, iterations run,
    * converged?) — for callers that must DETECT a non-converged run
    * (the rounding limit cycle under a too-small epsMicro, or
    * maxIterations hit) instead of silently shipping the last
    * vector. Per-probe deltas log to stderr under GRAFT_PR_DEBUG=1. */
  def pageRankUntilStats(pairs: DataFrame, idACol: String,
                         idBCol: String, epsMicro: Long = 0L,
                         maxIterations: Int = 50,
                         damping: Double = 0.85,
                         checkpointEvery: Int = 5)
      : (DataFrame, Int, Boolean) = {
    val r = pageRankUntilRun(pairs, idACol, idBCol, epsMicro,
      maxIterations, damping, checkpointEvery)
    (r.ranks, r.iterations, r.converged)
  }

  /** Full run record of [[pageRankUntilStats]], adding `probes` — the
    * number of blocking driver convergence checks the run issued, one
    * per checkpoint round (≈ iterations / checkpointEvery) rather than
    * one per round. Exposed so the probe-batching contract is
    * assertable, not just claimed. */
  def pageRankUntilRun(pairs: DataFrame, idACol: String,
                       idBCol: String, epsMicro: Long = 0L,
                       maxIterations: Int = 50,
                       damping: Double = 0.85,
                       checkpointEvery: Int = 5): PageRankRun = {
    require(epsMicro >= 0, "epsMicro must be >= 0")
    require(maxIterations >= 1, "maxIterations must be >= 1")
    require(damping > 0 && damping < 1, "damping must be in (0, 1)")
    require(checkpointEvery >= 1, "checkpointEvery must be >= 1")
    val (edges0, deg0) = edgesAndDegrees(pairs, idACol, idBCol)
    // the loop re-reads edges and deg every round — pin them once
    val edges = edges0.localCheckpoint()
    val deg = deg0.localCheckpoint()
    var ranks = deg.select(col("src").as("id"),
      lit(1000000L).as("rank_micro")).localCheckpoint()
    var it = 0
    var probes = 0
    var converged = false
    while (it < maxIterations && !converged) {
      it += 1
      var next = pageRankStep(edges, deg, ranks, damping)
      // probe only where the loop already materializes — the
      // checkpoint barrier — plus the final round (so the returned
      // `converged` flag always reflects a measured delta, never a
      // guess). Unprobed rounds stay fully lazy: they extend lineage,
      // cost nothing until the next checkpoint materializes them.
      if (it % checkpointEvery == 0 || it == maxIterations) {
        next = next.localCheckpoint()
        probes += 1
        val delta = next.as("n")
          .join(ranks.as("p"), col("n.id") === col("p.id"))
          .agg(max(abs(col("n.rank_micro") - col("p.rank_micro")))
            .as("d"))
          .head()
        converged = delta.isNullAt(0) || delta.getLong(0) <= epsMicro
        if (sys.env.contains("GRAFT_PR_DEBUG"))
          System.err.println(s"[pr] it=$it delta=" +
            (if (delta.isNullAt(0)) "null"
             else delta.getLong(0).toString))
      }
      ranks = next
    }
    PageRankRun(ranks, it, converged, probes)
  }

  /** Shared per-iteration step: contributions along edges (exact
    * integral division by the source degree), partial-aggregating
    * groupBy on the destination, one IEEE damping multiply + half-up
    * round per node. Every node of an undirected graph has in-degree
    * >= 1, so the inner join loses nobody; isolated nodes never
    * entered `deg`. */
  private def pageRankStep(edges: DataFrame, deg: DataFrame,
                           ranks: DataFrame,
                           damping: Double): DataFrame = {
    val baseMicro = math.round((1.0 - damping) * 1e6)
    pageRankStepWith(edges, deg, ranks, damping, _ => lit(baseMicro))
  }

  /** One micro-rank iteration with a caller-supplied teleport base
    * (a function of the node id) — shared by the uniform
    * ([[pageRankMicro]]) and personalized ([[personalizedPageRankMicro]])
    * forms; everything else (exact integral contributions, one IEEE
    * damping multiply, partial-aggregating inflow) is identical. */
  private def pageRankStepWith(edges: DataFrame, deg: DataFrame,
                               ranks: DataFrame, damping: Double,
                               baseOf: Column => Column): DataFrame =
    edges
      .join(ranks, edges("src") === ranks("id"))
      .join(deg, "src")
      .select(col("dst"), expr("rank_micro div deg").as("contrib"))
      .groupBy("dst").agg(sum("contrib").as("inflow"))
      .select(col("dst").as("id"),
        (baseOf(col("dst")) +
          round(lit(damping) * col("inflow")).cast("long"))
          .as("rank_micro"))

  /** PERSONALIZED PageRank in micro-units: teleport mass lands only on
    * `seeds`, so the stationary-ish score measures proximity to the
    * seed set instead of global centrality — the retrieval-expansion
    * primitive over the near-dup graph ("documents structurally
    * related to this template family"), and the seeded variant of the
    * g1 canonical-survivor policy when a cluster has a known anchor.
    *
    *   r₀(v)    = 1e6·[v ∈ seeds]
    *   r_{t+1}(v) = round((1−d)·1e6)·[v ∈ seeds]
    *                + round(d · Σ_{u→v} (r(u) div deg(u)))
    *
    * Same integer discipline as [[pageRankMicro]] (exact integral
    * contributions, ONE IEEE multiply per node per round), so a fixed
    * iteration count replays as chained CTEs. Nodes never reached
    * from a seed within `iterations` hops report rank 0 (they stay in
    * the output — the frame is node-sized, like g1's). Seeds must be
    * node ids; a seed absent from the graph contributes nothing (its
    * teleport mass has no edges to flow through) and does not appear.
    *
    * Shape at scale: identical to [[pageRankMicro]] — the seed
    * indicator is a broadcast-free literal `isin` (seed sets are
    * report parameters, tens of ids); only the pair graph shuffles,
    * co-partitioned on node ids across rounds. */
  def personalizedPageRankMicro(pairs: DataFrame, idACol: String,
                                idBCol: String, seeds: Seq[Long],
                                iterations: Int = 3,
                                damping: Double = 0.85,
                                checkpointEvery: Int = 0,
                                sparse: Boolean = false): DataFrame = {
    require(seeds.nonEmpty, "need at least one seed")
    require(iterations >= 1, "iterations must be >= 1")
    require(damping > 0 && damping < 1, "damping must be in (0, 1)")
    require(checkpointEvery >= 0, "checkpointEvery must be >= 0")
    val baseMicro = math.round((1.0 - damping) * 1e6)
    def seedBase(id: Column): Column =
      when(id.isin(seeds.map(Long.box): _*), lit(baseMicro))
        .otherwise(lit(0L))
    val (edges, deg) = edgesAndDegrees(pairs, idACol, idBCol)
    if (sparse) return pprSparse(edges, deg, seeds, iterations,
      damping, baseMicro, checkpointEvery)
    var ranks = deg.select(col("src").as("id"),
      when(col("src").isin(seeds.map(Long.box): _*), lit(1000000L))
        .otherwise(lit(0L)).as("rank_micro"))
    for (it <- 1 to iterations) {
      ranks = pageRankStepWith(edges, deg, ranks, damping, seedBase)
      if (checkpointEvery > 0 && it % checkpointEvery == 0 &&
        it < iterations)
        ranks = ranks.localCheckpoint()
    }
    ranks
  }

  /** SPARSE-FRONTIER personalized PageRank — bit-identical output to
    * the dense form (GraphOpsSpec proves it differentially), reached
    * by carrying ONLY the nonzero-rank rows through the rounds:
    * a zero-rank node's contribution is exactly 0 (`0 div deg = 0`,
    * and 0 terms vanish from the inflow SUM before any rounding), so
    * dropping those rows from the per-round join changes nothing.
    * With seed-local teleport most of a big graph never carries mass
    * (the round-10 ring rehearsal: a 3-hop frontier of 7 nodes on a
    * 50M-node cycle — the dense form shuffled all 100M directed edges
    * three times anyway), so each round's join probe collapses from
    * node-sized to frontier-sized; AQE sees the tiny frontier after
    * its shuffle and broadcasts it, making the edge join map-only.
    * The node-sized work left is ONE final left-join that reports the
    * unreached nodes as rank 0 (the g7 output contract).
    *
    * State recurrence per round over the full outer join of the
    * damped inflow with the seed-base rows (a seed gets its teleport
    * mass every round even when its frontier inflow is zero —
    * identical to the dense step, where the base rides seedBase(dst)):
    * nodes whose new rank is 0 drop out of the carried state. */
  private def pprSparse(edges: DataFrame, deg: DataFrame,
                        seeds: Seq[Long], iterations: Int,
                        damping: Double, baseMicro: Long,
                        checkpointEvery: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // seeds restricted to graph nodes (an absent seed has no edges to
    // flow through and must not appear — the dense contract)
    val seedRows = broadcast(seeds.distinct.toDF("id"))
      .join(deg, col("id") === col("src"), "leftsemi")
      .localCheckpoint() // tiny; reused every round
    var state = seedRows.select(col("id"),
      lit(1000000L).as("rank_micro"))
    for (it <- 1 to iterations) {
      val inflow = edges
        .join(state, edges("src") === state("id"))
        .join(deg, "src")
        .select(col("dst"), expr("rank_micro div deg").as("contrib"))
        .groupBy("dst").agg(sum("contrib").as("inflow"))
      state = inflow.as("i")
        .join(seedRows.select(col("id").as("sid")).as("s"),
          col("i.dst") === col("s.sid"), "full")
        .select(coalesce(col("i.dst"), col("s.sid")).as("id"),
          (when(col("s.sid").isNotNull, lit(baseMicro))
            .otherwise(lit(0L)) +
            round(lit(damping) * coalesce(col("i.inflow"), lit(0L)))
              .cast("long")).as("rank_micro"))
        .filter(col("rank_micro") > 0)
      if (checkpointEvery > 0 && it % checkpointEvery == 0 &&
        it < iterations)
        state = state.localCheckpoint()
    }
    // deg is one row per node by construction (groupBy src) — no
    // distinct, so the final zero-fill is one join, not join+shuffle
    deg.select(col("src").as("id"))
      .join(state, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("rank_micro"), lit(0L)).as("rank_micro"))
  }

  /** WEIGHTED PageRank in micro-units over an undirected
    * positively-weighted pair list: each node's rank splits across
    * its edges proportionally to weight — contrib(u→v) =
    * (r(u)·w(u,v)) div W(u) with W(u) = Σ_x w(u,x). The natural form
    * for similarity graphs (near-dup pairs weighted by Jaccard, the
    * PMI collocation graph weighted by co-occurrence): a node held by
    * many STRONG edges outranks one held by many weak ones, which
    * unweighted PageRank cannot see. Same integer discipline as
    * [[pageRankMicro]] — exact integral contributions, ONE IEEE
    * multiply per node per round — so fixed iteration counts replay
    * as chained CTEs; with CONSTANT weights the div cancels
    * ((r·w) div (w·deg) = r div deg exactly) and the ranks equal the
    * unweighted form bit for bit (GraphOpsSpec pins it). Weights must
    * be positive integers (micro-quantize upstream). Ranks are
    * UNNORMALIZED, so a hub's rank grows with its in-degree (bounded
    * only by the total mass ≈ N·1e6) — the r·w product therefore runs
    * in decimal(38,0), not long (a 1e7-degree hub at max weight would
    * overflow a long multiply by round 2); contributions and the
    * inflow sum stay decimal until the damping multiply, so the
    * operative bound is the same N ≲ 9e12-node rank-fits-in-long
    * bound [[pageRankMicro]] has, not a weight-dependent one.
    *
    * Shape at scale: identical to [[pageRankMicro]] — only the pair
    * graph shuffles, co-partitioned on node ids across rounds. */
  def weightedPageRankMicro(pairs: DataFrame, idACol: String,
                            idBCol: String, wCol: String,
                            iterations: Int = 3,
                            damping: Double = 0.85): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    require(damping > 0 && damping < 1, "damping must be in (0, 1)")
    val base = math.round((1.0 - damping) * 1e6)
    val a = col(idACol).cast("long")
    val b = col(idBCol).cast("long")
    val w = col(wCol).cast("long")
    val edges = pairs.select(a.as("src"), b.as("dst"), w.as("w"))
      .union(pairs.select(b.as("src"), a.as("dst"), w.as("w")))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("w") > 0)
    // weight sums, the r·w product, and the inflow sum all run in
    // decimal(38,0): unnormalized hub ranks grow with in-degree, so a
    // long multiply would overflow on exactly the boilerplate-hub
    // shape this operator targets. IntegralDivide on decimals still
    // returns an exact long contribution (contrib ≤ rank ≤ total
    // mass), and the decimal→double cast before the damping multiply
    // is value-identical to the long path below 2^53.
    val wsum = edges.groupBy("src")
      .agg(sum(col("w").cast("decimal(38,0)")).as("wsum"))
    var ranks = wsum.select(col("src").as("id"),
      lit(1000000L).as("rank_micro"))
    for (_ <- 1 to iterations) {
      ranks = edges.join(ranks, edges("src") === ranks("id"))
        .join(wsum, "src")
        .select(col("dst"),
          expr("(CAST(rank_micro AS DECIMAL(38,0)) * w) div wsum")
            .as("contrib"))
        .groupBy("dst")
        .agg(sum(col("contrib").cast("decimal(38,0)")).as("inflow"))
        .select(col("dst").as("id"),
          (lit(base) + round(lit(damping) * col("inflow").cast("double"))
            .cast("long")).as("rank_micro"))
    }
    ranks
  }

  /** Directed edge expansion + degree table of an undirected pair
    * list. Null-id pairs are dropped, not nodes — same contract as
    * Dedup.connectedComponents (a null would otherwise ride the
    * groupBy as a phantom node that no equi-join ever feeds). */
  private def edgesAndDegrees(pairs: DataFrame, idACol: String,
                              idBCol: String): (DataFrame, DataFrame) = {
    val a = col(idACol).cast("long")
    val b = col(idBCol).cast("long")
    val edges = pairs.select(a.as("src"), b.as("dst"))
      .union(pairs.select(b.as("src"), a.as("dst")))
      .filter(col("src").isNotNull && col("dst").isNotNull)
    (edges, edges.groupBy("src").agg(count(lit(1)).as("deg")))
  }

  /** Triangle and wedge census of an undirected pair list — the
    * cohesion measure of dup clusters (a clique-ish cluster is one
    * document family; a barbell of two cliques joined by one spurious
    * LSH pair is two). Returns one row:
    * (n_triangles, n_wedges, clustering_micro) with the global
    * clustering coefficient 3·triangles/wedges in rounded micro-units.
    *
    * Enumeration is the oriented wedge join: every edge points up a
    * total order on the nodes, a wedge is two oriented edges sharing
    * their source, and a triangle is a wedge whose far pair is itself
    * an edge — an acyclic orientation gives every triangle exactly one
    * two-out-edge vertex, so each is found exactly once. Wedge count
    * for the denominator is Σ C(deg, 2) over FULL degrees (one
    * aggregation). Every step is an equi-join or aggregation on node
    * ids; nothing data-sized lands on the driver.
    *
    * `byDegree` picks the order: (degree, id) — the MPC-standard
    * skew-proof orientation (Suri & Vassilvitskii, WWW 2011): every
    * node's out-degree is O(√m), so a boilerplate hub yields O(m)
    * wedges instead of C(deg_hub, 2). The plain id order (byDegree =
    * false) skips the degree joins — fine when the graph is known
    * hub-free, and both orders produce the identical census
    * (spec-pinned), which is why the SQL oracle can replay the cheap
    * id form regardless.
    *
    * Input is normalized, not trusted: pairs orient to (min, max),
    * duplicates collapse, self-loops and null ids drop — so reversed
    * or repeated pair lists census identically. */
  def triangleCensus(pairs: DataFrame, idACol: String, idBCol: String,
                     byDegree: Boolean = true): DataFrame = {
    val e = normalizedEdges(pairs, idACol, idBCol)
    val deg = e.select(col("lo").as("id"))
      .union(e.select(col("hi").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val wedges = orientedWedges(e, deg, byDegree)
    val triangles = wedges.join(e,
        least(wedges("v"), wedges("w")) === e("lo") &&
          greatest(wedges("v"), wedges("w")) === e("hi"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    // coalesce: sum over an empty deg frame is null, and getLong on a
    // null primitive NPEs — an empty graph must census as (0, 0, 0)
    val wedgeTotal = deg
      .agg(coalesce(sum(expr("(deg * (deg - 1)) div 2")), lit(0L))
        .as("n_wedges"))
    // two 1-row frames: cross of singletons is a constant fold, not a
    // data cartesian (the PlanDiscipline BNLJ ban applies to DATA-sized
    // sides; join both via literals fetched driver-side instead)
    val t = triangles.head().getLong(0)
    val w = wedgeTotal.head().getLong(0)
    val coeff =
      if (w == 0) 0L else math.round(3.0 * t / w * 1e6)
    val spark = pairs.sparkSession
    import spark.implicits._
    Seq((t, w, coeff))
      .toDF("n_triangles", "n_wedges", "clustering_micro")
  }

  /** Per-vertex triangle counts and local clustering coefficient over
    * the same normalized graph as [[triangleCensus]]: one row per
    * vertex (id, deg, tri, lcc_micro), lcc = 2·tri / (deg·(deg−1)) in
    * integer micro-units (floor division — both engines agree exactly,
    * no float round edge). Vertices with deg < 2 report 0. This is the
    * per-document boilerplate detector on the near-dup graph: a doc
    * whose neighbors all interlink (lcc → 1) sits inside a template
    * clique; a hub with lcc → 0 bridges unrelated near-dup families.
    *
    * Shape at scale: identical to the census — degree-ordered wedge
    * enumeration (each triangle materializes exactly once, at its
    * (deg, id)-minimal apex; a 10k-degree hub yields wedges bounded by
    * its ORIENTED out-degree, as measured in PLANS.md "Hub-skew
    * rehearsal"), then each
    * closed wedge fans out to its 3 member vertices and a map-side
    * combining count folds them. No window anywhere; the explode is
    * 3× the triangle count, not the wedge count. */
  def localClusteringMicro(pairs: DataFrame, idACol: String,
                           idBCol: String): DataFrame = {
    val e = normalizedEdges(pairs, idACol, idBCol)
    val deg = e.select(col("lo").as("id"))
      .union(e.select(col("hi").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val od = orientUp(e, deg, byDegree = true)
    val wedges = od.as("o1").join(od.as("o2"),
        col("o1.src") === col("o2.src") && col("o1.dst") < col("o2.dst"))
      .select(col("o1.src").as("u"), col("o1.dst").as("v"),
        col("o2.dst").as("w"))
    // v < w numerically (the wedge join orders dsts by id), so the
    // closing edge lookup is a direct (lo, hi) equi-join
    val closed = wedges.join(e,
      col("v") === col("lo") && col("w") === col("hi"), "left_semi")
    val triPerVertex = closed
      .select(explode(array(col("u"), col("v"), col("w"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("tri"))
    deg.join(triPerVertex, Seq("id"), "left")
      .select(col("id"), col("deg"),
        coalesce(col("tri"), lit(0L)).as("tri"))
      .withColumn("lcc_micro",
        when(col("deg") >= 2,
          expr("(2000000 * tri) div (deg * (deg - 1))"))
          .otherwise(lit(0L)))
  }

  /** Iterative k-core peeling, `rounds` fixed iterations: drop every
    * vertex with degree < k, restrict edges to survivors, recompute,
    * repeat. After enough rounds the survivors are exactly the k-core
    * (the maximal subgraph of min-degree ≥ k) — the density filter a
    * near-dup graph analysis runs before cluster mining: chains and
    * pendant quotes peel away, template cliques stay. A FIXED round
    * count (the g1 pageRankMicro convention) keeps the operator
    * SQL-replayable as chained CTEs; each round removes at least one
    * vertex until fixpoint, so `rounds` ≥ the peel depth (rarely more
    * than a few on real graphs) reaches the true core, and
    * [[kCorePeelStats]] reports whether the fixpoint was reached.
    *
    * Returns surviving (id, deg) — degrees IN the peeled subgraph.
    * Per round: one map-side-combining degree count + two semi-joins
    * co-partitioned on the vertex key the edges already carry; edge
    * count never grows. At real scale, localCheckpoint the edge frame
    * every few rounds (the connectedComponents contract) to cap
    * lineage; at a fixed handful of rounds the lineage is bounded
    * already. */
  def kCorePeel(pairs: DataFrame, idACol: String, idBCol: String,
                k: Int, rounds: Int): DataFrame =
    peeledDegrees(pairs, idACol, idBCol, k, rounds)
      .filter(col("deg") >= k)

  /** [[kCorePeel]] plus the fixpoint flag: one row
    * (n_vertices, n_edges, converged) — converged is true iff one
    * MORE peel round would remove nothing (every vertex still carrying
    * an edge after the last restriction has deg ≥ k), i.e. the
    * survivors are the true k-core, not a truncation artifact. */
  def kCorePeelStats(pairs: DataFrame, idACol: String, idBCol: String,
                     k: Int, rounds: Int): DataFrame = {
    val deg = peeledDegrees(pairs, idACol, idBCol, k, rounds)
      .localCheckpoint()
    val r = deg.agg(
      coalesce(sum(when(col("deg") >= k, 1L).otherwise(0L)), lit(0L)),
      coalesce(sum(when(col("deg") >= k, col("deg")).otherwise(0L)),
        lit(0L)),
      coalesce(sum(when(col("deg") < k, 1L).otherwise(0L)), lit(0L)))
      .head()
    val spark = pairs.sparkSession
    import spark.implicits._
    // sum(deg)/2 = edges within the survivor set only when converged;
    // report the survivor-degree sum halved regardless (exact at the
    // fixpoint, and the convergence flag qualifies it otherwise)
    Seq((r.getLong(0), r.getLong(1) / 2, r.getLong(2) == 0L))
      .toDF("n_vertices", "n_edges", "converged")
  }

  /** The peel loop of [[kCorePeel]]: degrees after `rounds`
    * restrictions, UNFILTERED (vertices that fell below k in the last
    * round still present — the convergence evidence). */
  private def peeledDegrees(pairs: DataFrame, idACol: String,
                            idBCol: String, k: Int,
                            rounds: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(rounds >= 1, "rounds must be >= 1")
    // localCheckpoint BEFORE the loop, and every few rounds inside it:
    // each round's plan embeds the previous round's ~3× (e directly +
    // twice through keep's degree frame), so an un-cut lineage grows
    // 3^rounds copies of the upstream pair pipeline — at sf0.1 the
    // LSH-verified input made round 4's ANALYSIS alone run minutes.
    // Checkpointing makes every round start from a leaf (the
    // pageRankMicro / connectedComponents contract).
    var e = normalizedEdges(pairs, idACol, idBCol).localCheckpoint()
    var deg = degreesOf(e)
    (1 to rounds).foreach { r =>
      val keep = deg.filter(col("deg") >= k).select("id")
      e = e.join(keep, col("lo") === col("id"), "left_semi")
        .join(keep, col("hi") === col("id"), "left_semi")
      if (r % 2 == 0 && r < rounds) e = e.localCheckpoint()
      deg = degreesOf(e)
    }
    deg
  }

  /** Degrees over a normalized (lo, hi) edge frame. */
  private def degreesOf(e: DataFrame): DataFrame =
    e.select(col("lo").as("id"))
      .union(e.select(col("hi").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))

  /** Normalized undirected edge list: (lo, hi) with lo < hi, distinct,
    * self-loops and null ids dropped. */
  def normalizedEdges(pairs: DataFrame, idACol: String,
                      idBCol: String): DataFrame = {
    val a = col(idACol).cast("long")
    val b = col(idBCol).cast("long")
    pairs.select(least(a, b).as("lo"), greatest(a, b).as("hi"))
      .filter(col("lo").isNotNull && col("hi").isNotNull &&
        col("lo") < col("hi"))
      .distinct()
  }

  /** The enumeration wedges of [[triangleCensus]]: unordered far pairs
    * (v, w) of two oriented edges sharing a source. Public so the
    * skew bound is testable — on a star, the degree order yields ZERO
    * wedges where the id order yields C(n−1, 2) when the hub happens
    * to carry the lowest id. */
  def orientedWedges(e: DataFrame, deg: DataFrame,
                     byDegree: Boolean): DataFrame = {
    val od = orientUp(e, deg, byDegree)
    od.as("o1").join(od.as("o2"),
        col("o1.src") === col("o2.src") && col("o1.dst") < col("o2.dst"))
      .select(col("o1.dst").as("v"), col("o2.dst").as("w"))
  }

  /** Synchronous label propagation (Raghavan, Albert & Kumara, Phys.
    * Rev. E 2007), `rounds` fixed iterations — the community detector
    * that splits what connected components cannot: CC fuses two dense
    * template families joined by one spurious LSH pair into one
    * cluster; LPA's majority rule keeps each family under its own
    * label because one bridging edge never outvotes a clique.
    *
    * Every node starts as its own label; each round, every node
    * simultaneously adopts the MODE of its neighbors' previous-round
    * labels, ties broken toward the smallest label — a deterministic
    * total rule (the reference algorithm breaks ties randomly; the
    * hashSample discipline applies: no rand() anywhere), so a fixed
    * round count is SQL-replayable as chained CTEs the way g1/g4 are.
    * Synchronous update can oscillate on bipartite-ish structures
    * (the paper's known caveat) — a fixed round count reports the
    * round-r labeling either way, and near-dup graphs are
    * triangle-dense where the mode rule converges in a few rounds.
    *
    * Per round: one edges⋈labels equi-join on the node id + one
    * map-side-combining (node, label) count + one argmax aggregation
    * (max of a (count, −label) struct — no window, no sort); only the
    * edge relation shuffles, and a boilerplate hub is one wide groupBy
    * key that partial aggregation absorbs (the pageRankMicro
    * argument). Lineage is cut every 2 rounds (the iterative-operator
    * house contract). Ids must be non-negative longs (the −label
    * tie-break negates them); isolated nodes never appear, as in every
    * operator of this family. Returns (id, label). */
  def labelPropagation(pairs: DataFrame, idACol: String, idBCol: String,
                       rounds: Int): DataFrame =
    labelPropagationNormalized(
      normalizedEdges(pairs, idACol, idBCol), rounds)

  /** [[labelPropagation]] over an ALREADY-normalized (lo, hi) edge
    * frame — the entry point for callers that hold the normalized
    * graph (modularity pins it once and reuses it for labels, degrees,
    * and the intra count; re-normalizing would re-shuffle the whole
    * edge list for nothing). The caller owns the normalization
    * contract: distinct, lo < hi, no nulls. */
  def labelPropagationNormalized(e: DataFrame,
                                 rounds: Int): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    val edges = e.select(col("lo").as("src"), col("hi").as("dst"))
      .union(e.select(col("hi").as("src"), col("lo").as("dst")))
      .localCheckpoint()
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
    (1 to rounds).foreach { r =>
      labels = edges
        .join(labels, edges("dst") === labels("id"))
        .groupBy(col("src"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("src"))
        .agg(max(struct(col("cnt").as("c"), (-col("label")).as("nl")))
          .as("m"))
        .select(col("src").as("id"), (-col("m.nl")).as("label"))
      if (r % 2 == 0 && r < rounds) labels = labels.localCheckpoint()
    }
    labels
  }

  /** Per-edge structural-support scores — the edge-pruning pass that
    * runs BEFORE clustering: [[labelPropagation]] outvotes a spurious
    * LSH bridge, this operator MEASURES it. For every edge (a, b) of
    * the normalized graph: the common-neighbor count, the Adamic-Adar
    * score Σ_{c ∈ N(a)∩N(b)} 1/ln(deg c) (low-degree shared neighbors
    * are stronger evidence than hubs — Adamic & Adar, Social Networks
    * 2003), and the neighborhood Jaccard |N(a)∩N(b)| / |N(a)∪N(b)|.
    * An edge inside a template clique scores high on all three; the
    * one bridge fusing two families scores 0/0/0 — rank ascending and
    * cut, then cluster on what survives.
    *
    * Exactness: each Adamic-Adar term quantizes to integer micro
    * BEFORE the sum (round(1e6/ln deg) — deg ≥ 2 for any common
    * neighbor, so ln > 0), making the sum order-independent and
    * hash-exact (the d28 discipline); Jaccard is integer floor
    * division in micro-units.
    *
    * Shape at scale: triangles enumerate ONCE each at their
    * (degree, id)-minimal apex (the [[localClusteringMicro]] wedge
    * machinery — hub wedges bounded by oriented out-degree, as
    * measured in PLANS.md "Hub-skew rehearsal"), then each closed
    * wedge fans out to its 3 member edges carrying the OPPOSITE vertex
    * as the common neighbor;
    * a map-side-combining aggregation on the normalized edge key folds
    * the credits, and the degree frame joins back co-partitioned on
    * keys the plan already carries. No window, no all-pairs — cost is
    * O(triangles), not O(Σ deg²). Returns
    * (id_a, id_b, deg_a, deg_b, cn_cnt, aa_micro, nbr_jaccard_micro)
    * for EVERY edge (unsupported edges report 0/0/0). */
  def edgeEmbeddedness(pairs: DataFrame, idACol: String,
                       idBCol: String): DataFrame = {
    val e = normalizedEdges(pairs, idACol, idBCol).localCheckpoint()
    val deg = degreesOf(e)
    val od = orientUp(e, deg, byDegree = true)
    val wedges = od.as("o1").join(od.as("o2"),
        col("o1.src") === col("o2.src") && col("o1.dst") < col("o2.dst"))
      .select(col("o1.src").as("u"), col("o1.dst").as("v"),
        col("o2.dst").as("w"))
    // v < w numerically (the wedge join orders far endpoints by id),
    // so the closing-edge lookup is a direct (lo, hi) equi-join
    val closed = wedges.join(e,
      col("v") === col("lo") && col("w") === col("hi"), "left_semi")
    // each triangle credits its 3 edges with the opposite vertex as
    // the common neighbor; least/greatest renormalizes the apex legs
    // (u is degree-minimal, not id-minimal)
    val credits = closed.select(explode(array(
        struct(least(col("u"), col("v")).as("clo"),
          greatest(col("u"), col("v")).as("chi"), col("w").as("cn")),
        struct(least(col("u"), col("w")).as("clo"),
          greatest(col("u"), col("w")).as("chi"), col("v").as("cn")),
        struct(col("v").as("clo"), col("w").as("chi"),
          col("u").as("cn")))).as("t"))
      .select(col("t.clo"), col("t.chi"), col("t.cn"))
    val support = credits
      .join(deg.select(col("id").as("cn"), col("deg").as("cn_deg")),
        Seq("cn"))
      .groupBy(col("clo"), col("chi"))
      .agg(count(lit(1)).as("cn_cnt"),
        sum(round(lit(1e6) / log(col("cn_deg"))).cast("long"))
          .as("aa_micro"))
    e.join(deg.select(col("id").as("lo"), col("deg").as("deg_a")),
        Seq("lo"))
      .join(deg.select(col("id").as("hi"), col("deg").as("deg_b")),
        Seq("hi"))
      .join(support, col("lo") === col("clo") && col("hi") === col("chi"),
        "left")
      .select(col("lo").as("id_a"), col("hi").as("id_b"),
        col("deg_a"), col("deg_b"),
        coalesce(col("cn_cnt"), lit(0L)).as("cn_cnt"),
        coalesce(col("aa_micro"), lit(0L)).as("aa_micro"))
      .withColumn("nbr_jaccard_micro",
        expr("(1000000 * cn_cnt) div (deg_a + deg_b - cn_cnt)"))
  }

  /** Newman–Girvan modularity of the [[labelPropagation]] partition —
    * the quality score for g5's communities: Q compares the fraction
    * of edges falling INSIDE communities against the fraction
    * expected if the same degree sequence were wired at random.
    * Q ≈ 0 means LPA found nothing beyond chance (one spurious-bridge
    * blob); Q ≳ 0.3 is real structure — the accept/reject gate a
    * pipeline runs before trusting community-based canonicalization.
    *
    * Exact to the last step: with S = Σ_c d_c = 2m (so m never needs
    * its own job) and Σ_c m_c the intra-community edge count,
    * Q = (2·S·Σm_c − Σd_c²)/S² — integer numerator and denominator
    * in decimal(38,0), ONE float division, ROUND 6 (mirrored in the
    * oracle as the same chained-CTE LPA replay g8 uses). The edge
    * frame is pinned once and feeds labels, degrees, and the intra
    * count. Returns one row (n_edges, n_communities, modularity);
    * an empty graph reports (0, 0, NULL). */
  def modularity(pairs: DataFrame, idACol: String, idBCol: String,
                 rounds: Int): DataFrame = {
    val e = normalizedEdges(pairs, idACol, idBCol).localCheckpoint()
    modularityOfLabels(e, labelPropagationNormalized(e, rounds))
  }

  /** The [[modularity]] score over an ALREADY-computed (id, label)
    * partition of a normalized (lo, hi) edge frame — public so any
    * labeling (LPA, Louvain's local-move round, an external
    * assignment) scores through ONE implementation; the g16 spec's
    * Q(after) ≥ Q(before) check is exactly two calls to this. The
    * caller owns the normalization contract (distinct, lo < hi) and
    * should pin `e` when it also feeds the labeling. */
  def modularityOfLabels(e: DataFrame, labels: DataFrame): DataFrame = {
    val nl = labels.join(degreesOf(e), "id")
    val dc = nl.groupBy("label").agg(sum(col("deg")).as("dsum"))
    val la = labels.select(col("id").as("lo"), col("label").as("_la"))
    val lb = labels.select(col("id").as("hi"), col("label").as("_lb"))
    val mc = e.join(la, Seq("lo")).join(lb, Seq("hi"))
      .filter(col("_la") === col("_lb"))
      .groupBy(col("_la").as("label"))
      .agg(count(lit(1)).as("m_in"))
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val z0 = lit(0L).cast("decimal(38,0)")
    dc.join(mc, Seq("label"), "left")
      .select(col("dsum"), coalesce(col("m_in"), lit(0L)).as("m_in"))
      .agg(
        coalesce(sum(dec(col("dsum"))), z0).as("s"),
        coalesce(sum(dec(col("m_in"))), z0).as("smc"),
        coalesce(sum(dec(col("dsum")) * dec(col("dsum"))), z0)
          .as("sdc2"),
        count(lit(1)).as("ncomm"))
      .select(
        expr("CAST(s AS BIGINT) div 2").as("n_edges"),
        col("ncomm").as("n_communities"),
        when(col("s") > 0,
          round((lit(2L) * col("s") * col("smc") - col("sdc2"))
              .cast("double") /
            (col("s") * col("s")).cast("double"), 6))
          .otherwise(lit(null).cast("double")).as("modularity"))
  }

  /** One Louvain local-move round from the singleton partition
    * (Blondel et al., J. Stat. Mech. 2008 — the first level's first
    * sweep, the step that does most of Louvain's work on real
    * graphs): every node considers joining a neighbor's community and
    * takes the move with the best modularity gain. Next to
    * [[labelPropagation]]: LPA's majority rule is degree-blind, this
    * move rule is Q-driven — a hub's edge counts for less than a
    * leaf's (the null model discounts by degree product), so it
    * splits hub-bridged families LPA can fuse.
    *
    * Exact gain algebra: moving an isolated node i into community c
    * changes Q by l_{i,c}/m − k_i·Σtot(c)/(2m²); scaled by the
    * constant 2m² that is the INTEGER 2m·l_{i,c} − k_i·Σtot(c), so
    * gains compare exactly in both engines — no float ever enters the
    * argmax. From singletons, l_{i,c} = 1 and Σtot(c) = deg(j) for
    * each neighbor j, so gain_scaled(i→j) = 2m − deg(i)·deg(j).
    *
    * Synchronous-update discipline: classic Louvain sweeps nodes
    * sequentially — inherently serial. The distributed round applies
    * all moves simultaneously, which invites the two-singleton SWAP
    * (a adopts b's community while b adopts a's; Q unchanged,
    * oscillation seeded). The deterministic guard: a node may only
    * move to a community with a SMALLER id than its own — the move
    * relation is strictly id-decreasing, so no swaps and no cycles
    * (the LPA smallest-label tie-break promoted to an application
    * rule), and inside a clique the whole clique collapses onto its
    * minimum id in one round. Among eligible targets: max gain, ties
    * to the smallest community id — a total deterministic rule,
    * SQL-replayable as chained CTEs (the g5 discipline).
    *
    * Shape at scale: one edges⋈degrees join (node-keyed, the LPA
    * exchange), one argmax groupBy (max of a (gain, −id) struct — no
    * window), 2m fetched as a 1-row bounded parameter and folded in
    * as a literal (a constant-key join would plan the BNLJ
    * PlanDisciplineSpec bans). deg(i)·deg(j) stays inside Long for
    * any degree below 3·10⁹. Returns (id, deg, community,
    * gain_scaled) — community = own id and gain 0 for nodes that
    * stay. */
  def louvainOneLevel(pairs: DataFrame, idACol: String,
                      idBCol: String): DataFrame = {
    val e = normalizedEdges(pairs, idACol, idBCol).localCheckpoint()
    louvainWeightedRound(e.withColumn("w", lit(1L)),
      e.limit(0).select(col("lo").as("id"), col("lo").as("w")))
  }

  /** The Louvain move round over a WEIGHTED (lo, hi, w) inter-node
    * edge frame plus (id, w) self-loop weights — the shared body of
    * [[louvainOneLevel]] (unit weights, no loops) and the contracted
    * second level of [[louvainTwoLevel]] (w = inter-community edge
    * counts, loops = intra counts). Gain algebra generalizes
    * verbatim: each super-node is again a singleton community, so
    * gain_scaled(c→d) = 2m·w_{c,d} − k_c·k_d with
    * k_c = Σ_d w_{c,d} + 2·w_{c,c} and 2m = Σ_c k_c; self-loops
    * enter only through k. Same deterministic rule: among neighbors
    * with smaller id and positive gain, max gain then smallest id.
    * Returns (id, deg, community, gain_scaled) — deg is the weighted
    * degree k. */
  private[graft] def louvainWeightedRound(ew: DataFrame,
                                          loops: DataFrame): DataFrame = {
    val inc = ew.select(col("lo").as("id"), col("w"))
      .union(ew.select(col("hi").as("id"), col("w")))
      .union(loops.select(col("id"), (col("w") * 2L).as("w")))
    val deg = inc.groupBy("id")
      .agg(coalesce(sum(col("w")), lit(0L)).as("deg"))
      .localCheckpoint()
    // 1-row bounded parameter: S = 2m, the gain formula's constant
    val s2m = deg.agg(coalesce(sum(col("deg")), lit(0L))).head()
      .getLong(0)
    val edges = ew.select(col("lo").as("src"), col("hi").as("dst"),
        col("w"))
      .union(ew.select(col("hi").as("src"), col("lo").as("dst"),
        col("w")))
    val gain = lit(s2m) * col("w") - col("deg_src") * col("deg_dst")
    val best = edges
      .join(deg.select(col("id").as("dst"),
        col("deg").as("deg_dst")), "dst")
      .join(deg.select(col("id").as("src"),
        col("deg").as("deg_src")), "src")
      .filter(col("dst") < col("src") && gain > 0L)
      .groupBy("src")
      .agg(max(struct(gain.as("g"), (-col("dst")).as("nc"))).as("m"))
      .select(col("src").as("id"), (-col("m.nc")).as("community"),
        col("m.g").as("gain_scaled"))
    deg.join(best, Seq("id"), "left")
      .select(col("id"), col("deg"),
        coalesce(col("community"), col("id")).as("community"),
        coalesce(col("gain_scaled"), lit(0L)).as("gain_scaled"))
  }

  /** Louvain level 2: contract the level-1 communities into a
    * weighted multigraph (inter-community edge counts as weights,
    * intra counts as self-loops — the standard Louvain aggregation
    * step; Blondel 2008 §2) and run the SAME weighted move round over
    * the super-nodes. This is the step that merges communities the
    * node-level round could only form, e.g. two cliques joined by a
    * multi-edge bundle each collapse at level 1 and fuse at level 2
    * when 2m·w_bundle outweighs their degree product. Total edge
    * weight is conserved by contraction, so 2m (and the modularity
    * scale) is the ORIGINAL graph's — Q values compare across levels.
    *
    * Returns one row per level-1 community: (community_l1, k_c,
    * w_self, community_l2, gain_scaled); compose with level 1 for
    * per-node labels (GraphOpsSpec pins Q(l2 ∘ l1) ≥ Q(l1) on the
    * clique-pairs fixture). */
  def louvainTwoLevel(pairs: DataFrame, idACol: String,
                      idBCol: String): DataFrame = {
    val e = normalizedEdges(pairs, idACol, idBCol).localCheckpoint()
    // level 1 from unit weights; pinned — it feeds the contraction
    // on both endpoints
    val l1 = louvainWeightedRound(e.withColumn("w", lit(1L)),
      e.limit(0).select(col("lo").as("id"), col("lo").as("w")))
      .localCheckpoint()
    val asg = l1.select(col("id"), col("community"))
    val ce = e
      .join(asg.select(col("id").as("lo"), col("community").as("ca")),
        "lo")
      .join(asg.select(col("id").as("hi"), col("community").as("cb")),
        "hi")
    val inter = ce.filter(col("ca") =!= col("cb"))
      .select(least(col("ca"), col("cb")).as("lo"),
        greatest(col("ca"), col("cb")).as("hi"))
      .groupBy("lo", "hi").agg(count(lit(1)).as("w"))
    val loops = ce.filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("id")).agg(count(lit(1)).as("w"))
      .localCheckpoint() // feeds the round AND the w_self report
    louvainWeightedRound(inter, loops)
      .join(loops.select(col("id"), col("w").as("w_self")),
        Seq("id"), "left")
      .select(col("id").as("community_l1"), col("deg").as("k_c"),
        coalesce(col("w_self"), lit(0L)).as("w_self"),
        col("community").as("community_l2"), col("gain_scaled"))
  }

  /** Louvain to a FIXPOINT (Blondel 2008 §2, the full pyramid run
    * synchronously): alternate the exact-integer weighted move round
    * with community contraction until a sweep performs no move —
    * [[louvainOneLevel]] is the first sweep, [[louvainTwoLevel]] the
    * second; this iterates the pair until the partition stops
    * improving. Termination is structural, twice over: every move
    * goes to a strictly SMALLER community id (the synchronous-swap
    * guard), and every contraction strictly reduces the node count
    * when any move happened, so the level loop can run at most
    * n − 1 times — `maxLevels` is a cost cap, not a correctness
    * crutch. Each sweep's Q is non-decreasing (only positive-gain
    * moves apply from a singleton super-node partition, and
    * contraction conserves 2m so Q compares across levels —
    * GraphOpsSpec pins Q(sweep 2) > Q(sweep 1) on the bundle
    * fixture, via [[modularityOfLabels]]).
    *
    * Cross-engine replay: a level past convergence is the IDENTITY
    * (no positive gain → every super-node keeps its own id → the
    * contraction rebuilds the same graph), so a SQL oracle unrolls
    * exactly `maxLevels` levels as chained CTEs and matches the
    * early-exiting loop bit-for-bit — the g5/d55 fixed-unroll
    * discipline, made safe by idempotence at the fixpoint. Shape at
    * scale: per level, one node-keyed join+groupBy for the round and
    * one edge contraction groupBy — all keyed exchanges; the graph
    * SHRINKS every level, so level 1 dominates. Driver state is one
    * Long per level (the move count — a bounded parameter); labels
    * and edges stay DataFrames, pinned per level.
    *
    * Returns one row per ORIGINAL node: (id, community, n_levels)
    * where community is the converged label and n_levels counts the
    * sweeps that performed at least one move (identical on every
    * row — the q61/e18 report convention). */
  def louvainConverged(pairs: DataFrame, idACol: String,
                       idBCol: String, maxLevels: Int = 4): DataFrame = {
    require(maxLevels >= 1 && maxLevels <= 16, "maxLevels in [1, 16]")
    val e0 = normalizedEdges(pairs, idACol, idBCol).localCheckpoint()
    var ew = e0.withColumn("w", lit(1L))
    var loops = e0.limit(0).select(col("lo").as("id"),
      col("lo").as("w"))
    var labels = degreesOf(e0).select(col("id"),
      col("id").as("community"))
    var nLevels = 0L
    var moved = true
    while (moved && nLevels < maxLevels) {
      val r = louvainWeightedRound(ew, loops).localCheckpoint()
      // 1-row bounded parameter: did this sweep move anything?
      val nMoves = r.filter(col("community") =!= col("id")).count()
      moved = nMoves > 0
      if (moved) {
        nLevels += 1
        val asg = r.select(col("id"), col("community"))
        labels = labels
          .join(asg.select(col("community").as("_c"),
            col("id").as("community")), "community")
          .select(col("id"), col("_c").as("community"))
          .localCheckpoint(false)
        // contraction: inter-community weights sum, intra weights and
        // mapped old self-loops fold into the new loops — total edge
        // weight (and the Q scale) conserved
        val ce = ew
          .join(asg.select(col("id").as("lo"),
            col("community").as("ca")), "lo")
          .join(asg.select(col("id").as("hi"),
            col("community").as("cb")), "hi")
          .localCheckpoint(false)
        ew = ce.filter(col("ca") =!= col("cb"))
          .select(least(col("ca"), col("cb")).as("lo"),
            greatest(col("ca"), col("cb")).as("hi"), col("w"))
          .groupBy("lo", "hi").agg(sum(col("w")).as("w"))
          .localCheckpoint(false)
        loops = ce.filter(col("ca") === col("cb"))
          .select(col("ca").as("id"), col("w"))
          .unionByName(loops.join(asg, "id")
            .select(col("community").as("id"), col("w")))
          .groupBy("id").agg(sum(col("w")).as("w"))
          .localCheckpoint(false)
      }
    }
    graft.ops.Counters.note("louvain", "loop",
      Map("levels" -> nLevels, "cap" -> maxLevels))
    labels.withColumn("n_levels", lit(nLevels))
  }

  /** Degree assortativity (Newman, Phys. Rev. Lett. 2002): the
    * Pearson correlation of endpoint degrees over every directed
    * edge — one number answering "do well-connected documents
    * near-duplicate other well-connected documents?" (a template
    * family where hubs link hubs scores positive; a hub-and-spoke
    * boilerplate pattern scores negative). The discriminating audit
    * between two graphs g1's rank histogram cannot tell apart.
    *
    * Each undirected edge contributes BOTH ordered endpoint pairs, so
    * the statistic is symmetric by construction (the standard excess-
    * degree formulation restricted to Pearson-over-edges). Degrees are
    * exact longs; all five co-moments accumulate in decimal(38,0)
    * (the q36/q61 discipline — order-independent under partial
    * aggregation) and the single float division + sqrt lands at the
    * end, ROUND 6, mirrored in the oracle. Input is normalized:
    * reversed/duplicate pairs collapse, self-loops and null ids drop.
    * Returns one row (n_endpoints, assortativity); a degenerate graph
    * (all degrees equal, e.g. one edge or a clean ring) has zero
    * variance → NULL, the q61 contract. */
  def degreeAssortativity(pairs: DataFrame, idACol: String,
                          idBCol: String): DataFrame = {
    val e = normalizedEdges(pairs, idACol, idBCol)
    val deg = degreesOf(e)
    val dl = deg.select(col("id").as("lo"), col("deg").as("_dlo"))
    val dh = deg.select(col("id").as("hi"), col("deg").as("_dhi"))
    // pinned: both union branches read the per-edge degree pairs, and
    // Spark does no CSE across a union — un-pinned, the normalize +
    // degree aggregation + double join subtree executes twice (the
    // spearmanRho/llm_curate_full fork lesson; this frame is
    // edge-sized, the same class as e itself)
    val ends = e.join(dl, Seq("lo")).join(dh, Seq("hi"))
      .select(col("_dlo"), col("_dhi")).localCheckpoint()
    val both = ends.select(col("_dlo").as("x"), col("_dhi").as("y"))
      .union(ends.select(col("_dhi").as("x"), col("_dlo").as("y")))
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    both.agg(
        count(lit(1)).cast("decimal(38,0)").as("n"),
        coalesce(sum(dec(col("x"))), lit(0L).cast("decimal(38,0)"))
          .as("sx"),
        coalesce(sum(dec(col("y"))), lit(0L).cast("decimal(38,0)"))
          .as("sy"),
        coalesce(sum(dec(col("x")) * dec(col("y"))),
          lit(0L).cast("decimal(38,0)")).as("sxy"),
        coalesce(sum(dec(col("x")) * dec(col("x"))),
          lit(0L).cast("decimal(38,0)")).as("sxx"),
        coalesce(sum(dec(col("y")) * dec(col("y"))),
          lit(0L).cast("decimal(38,0)")).as("syy"))
      .select(col("n").cast("long").as("n_endpoints"),
        round((col("n") * col("sxy") - col("sx") * col("sy"))
            .cast("double") /
          nullif(sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
              .cast("double") *
            (col("n") * col("syy") - col("sy") * col("sy"))
              .cast("double")), lit(0.0d)),
          6).as("assortativity"))
  }

  /** Multi-source BFS hop distances over the undirected pair graph:
    * the exact shortest hop count from the nearest seed, for every
    * node within `maxHops` — the "how far does this duplicate family
    * reach" traversal the scoring family (PageRank diffuses mass,
    * this measures distance) does not answer. The canonical use:
    * seed with a known-bad document set and pull everything within
    * k near-dup hops for review.
    *
    * Frontier-iterated exactly like the sparse PPR: each round is
    * ONE frontier⋈edges equi-join on the node id plus a distinct and
    * an anti-join against the settled set — work scales with the
    * frontier and its boundary, never the node count, and AQE
    * broadcasts the frontier side when it is small. Settled/frontier
    * frames are localCheckpointed per round (the iterative-operator
    * lineage contract). BFS layers are set-determined (layer r =
    * nodes reachable in exactly r hops), so the output is exact and
    * SQL-replayable as one unrolled CTE chain per hop. Seeds absent
    * from the graph are dropped (the PPR seed contract). Returns
    * (id, hops) — seeds at 0; unreached nodes absent. */
  def bfsHops(pairs: DataFrame, idACol: String, idBCol: String,
              seeds: Seq[Long], maxHops: Int): DataFrame = {
    require(seeds.nonEmpty, "need at least one seed")
    require(maxHops >= 1 && maxHops <= 64,
      s"maxHops must be in [1, 64] (got $maxHops)")
    val spark = pairs.sparkSession
    import spark.implicits._
    val e = normalizedEdges(pairs, idACol, idBCol)
    val edges = e.select(col("lo").as("src"), col("hi").as("dst"))
      .union(e.select(col("hi").as("src"), col("lo").as("dst")))
      .localCheckpoint() // reused every round
    val nodes = edges.select(col("src").as("id")).distinct()
    var settled = broadcast(seeds.distinct.toDF("id"))
      .join(nodes, Seq("id"), "leftsemi")
      .select(col("id"), lit(0L).as("hops"))
      .localCheckpoint()
    var frontier = settled.select("id")
    var hop = 1
    while (hop <= maxHops && !frontier.isEmpty) {
      val next = frontier.join(edges, col("id") === col("src"))
        .select(col("dst").as("id")).distinct()
        .join(settled, Seq("id"), "left_anti")
        .localCheckpoint()
      settled = settled
        .unionAll(next.select(col("id"), lit(hop.toLong).as("hops")))
        .localCheckpoint()
      frontier = next
      hop += 1
    }
    settled
  }

  /** Resource-Allocation link prediction (Zhou, Lü & Zhang 2009) over
    * the undirected pair graph: for every NON-adjacent pair (a, b)
    * sharing at least one neighbor, RA = Σ_z 1/deg(z) over the common
    * neighbors z — the member of the common-neighbor family
    * (CN / Adamic–Adar / RA) whose weights are INTEGER-exact (one
    * round(1e6/deg) per neighbor, a single mirrored division — no
    * cross-engine log like Adamic–Adar's 1/ln deg). The pipeline use:
    * predicted links on the near-dup graph are the pairs an LSH pass
    * MISSED but the graph structure vouches for — review candidates.
    *
    * Shape at scale: pairs enumerate per shared neighbor z (an
    * equi-join of the directed edge list with itself on z — always
    * bucketed by z, never all-pairs), which is inherently Σ deg(z)²;
    * `maxDegree` excludes super-hub neighbors from the enumeration —
    * the standard cap, and semantically almost free since a hub's RA
    * contribution is the smallest possible (1/deg). Existing edges
    * drop via one anti-join. Returns (id_a, id_b, cn, ra_micro) with
    * id_a < id_b, the common-neighbor count, and the exact micro
    * score. Callers order+limit. */
  def resourceAllocationMicro(pairs: DataFrame, idACol: String,
                              idBCol: String,
                              maxDegree: Long = 1000L): DataFrame = {
    require(maxDegree >= 2, s"maxDegree must be >= 2 (got $maxDegree)")
    val e = normalizedEdges(pairs, idACol, idBCol).localCheckpoint()
    val deg = degreesOf(e)
    val bd = e.select(col("lo").as("z"), col("hi").as("x"))
      .union(e.select(col("hi").as("z"), col("lo").as("x")))
    val viaZ = bd.join(deg.filter(col("deg") <= maxDegree)
        .select(col("id").as("z"), col("deg")), "z")
    val wedges = viaZ.as("p1")
      .join(viaZ.as("p2"),
        col("p1.z") === col("p2.z") && col("p1.x") < col("p2.x"))
      .select(col("p1.x").as("xa"), col("p2.x").as("xb"),
        col("p1.deg").as("deg"))
    wedges.groupBy("xa", "xb")
      .agg(count(lit(1)).as("cn"),
        sum(round(lit(1e6) / col("deg")).cast("long")).as("ra_micro"))
      .join(e, col("xa") === col("lo") && col("xb") === col("hi"),
        "left_anti")
      .select(col("xa").as("id_a"), col("xb").as("id_b"), col("cn"),
        col("ra_micro"))
  }

  /** DBSCAN over an ALREADY-THRESHOLDED similarity graph (Ester et
    * al., KDD 1996, the graph formulation): the ε-neighborhood is the
    * pair list itself (LSH-verified near-dup pairs, collocation
    * edges, embedding neighbors above a cosine floor), so density
    * clustering reduces to pure graph ops — CORE nodes have degree ≥
    * minPts, clusters are connected components over core–core edges,
    * BORDER nodes attach to their smallest adjacent core cluster, and
    * the rest of the graph's nodes are NOISE. What it adds over plain
    * CC (d23): one weak bridge pair no longer fuses two dense
    * families — the bridge endpoints fail the core test and demote to
    * border/noise instead of conducting the merge.
    *
    * Determinism: the core set is a degree filter, components come
    * from [[Dedup.connectedComponents]] (min reachable id), and a
    * border with several core neighbors takes the SMALLEST adjacent
    * cluster id — total rules, no randomness, SQL-replayable.
    * Shape at scale: a degree aggregation, two semi-joins to gate the
    * core subgraph, the CC contraction, and one neighbor join for
    * borders — everything rides the edge list; the corpus is never
    * touched. Isolated cores (minPts edges but no CORE neighbor)
    * form their own singleton cluster. Returns (id, role, cluster)
    * with role ∈ {core, border, noise}; cluster NULL for noise. */
  def dbscanGraph(pairs: DataFrame, idACol: String, idBCol: String,
                  minPts: Int): DataFrame = {
    require(minPts >= 1 && minPts <= 1000,
      s"minPts must be in [1, 1000] (got $minPts)")
    val e = normalizedEdges(pairs, idACol, idBCol).localCheckpoint()
    val deg = degreesOf(e)
    val cores = deg.filter(col("deg") >= minPts).select("id")
      .localCheckpoint()
    val ccEdges = e
      .join(cores.select(col("id").as("lo")), "lo")
      .join(cores.select(col("id").as("hi")), "hi")
      .select(col("lo").as("id_a"), col("hi").as("id_b"))
    val comp = Dedup.connectedComponents(ccEdges, "id_a", "id_b")
    val coreComp = cores.join(comp, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("component"), col("id")).as("cluster"))
      .localCheckpoint()
    val bd = e.select(col("lo").as("id"), col("hi").as("nb"))
      .union(e.select(col("hi").as("id"), col("lo").as("nb")))
    val borders = bd
      .join(cores, Seq("id"), "left_anti")
      .join(coreComp.select(col("id").as("nb"), col("cluster")), "nb")
      .groupBy("id").agg(min(col("cluster")).as("cluster"))
    val noise = deg.select("id")
      .join(cores, Seq("id"), "left_anti")
      .join(borders.select("id"), Seq("id"), "left_anti")
      .select(col("id"), lit("noise").as("role"),
        lit(null).cast("long").as("cluster"))
    coreComp.select(col("id"), lit("core").as("role"), col("cluster"))
      .unionAll(borders.select(col("id"), lit("border").as("role"),
        col("cluster")))
      .unionAll(noise)
  }

  private def orientUp(e: DataFrame, deg: DataFrame,
                       byDegree: Boolean): DataFrame =
    if (!byDegree) e.select(col("lo").as("src"), col("hi").as("dst"))
    else {
      val dl = deg.select(col("id").as("_lid"), col("deg").as("_ldeg"))
      val dh = deg.select(col("id").as("_hid"), col("deg").as("_hdeg"))
      // orient up the (degree, id) order; join keys are the node ids
      // the edge already carries, so at scale this co-partitions with
      // the degree frame
      e.join(dl, col("lo") === col("_lid"))
        .join(dh, col("hi") === col("_hid"))
        .select(
          when(col("_ldeg") < col("_hdeg") ||
            (col("_ldeg") === col("_hdeg")), col("lo"))
            .otherwise(col("hi")).as("src"),
          when(col("_ldeg") < col("_hdeg") ||
            (col("_ldeg") === col("_hdeg")), col("hi"))
            .otherwise(col("lo")).as("dst"))
    }
}
