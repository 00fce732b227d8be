package graft

import graft.pipeline.GraphOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class GraphOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def pairs(rows: (Long, Long)*) = {
    val s = spark
    import s.implicits._
    rows.toDF("id_a", "id_b")
  }

  private def ranks(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("pageRank: star center outranks leaves; symmetric pair ranks equal") {
    // star 1-{2,3,4} plus an isolated pair 10-11
    val got = ranks(GraphOps.pageRankMicro(
      pairs((1L, 2L), (1L, 3L), (1L, 4L), (10L, 11L)), "id_a", "id_b"))
    assert(got.keySet === Set(1L, 2L, 3L, 4L, 10L, 11L))
    assert(got(1L) > got(2L), s"center must outrank a leaf: $got")
    assert(got(2L) === got(3L) && got(3L) === got(4L))
    // a symmetric 2-node component: both ends identical, and every
    // contribution is the full rank (deg 1), so rank stays 1e6 exactly
    // at every iteration: 150000 + round(0.85 * 1000000) = 1000000
    assert(got(10L) === 1000000L && got(11L) === got(10L))
  }

  test("pageRank: exact 1-iteration micro arithmetic on a path graph") {
    // path 1-2-3: deg(1)=deg(3)=1, deg(2)=2, all r0 = 1e6.
    // r1(1) = r1(3) = 150000 + round(0.85 * (1e6 div 2)) = 575000
    // r1(2) = 150000 + round(0.85 * (1e6 + 1e6)) = 1850000
    val got = ranks(GraphOps.pageRankMicro(
      pairs((1L, 2L), (2L, 3L)), "id_a", "id_b", iterations = 1))
    assert(got === Map(1L -> 575000L, 2L -> 1850000L, 3L -> 575000L))
  }

  test("pageRank: null-id pairs are dropped, not phantom nodes") {
    val s = spark
    import s.implicits._
    val df = Seq[(java.lang.Long, java.lang.Long)](
      (1L, 2L), (null, 3L), (4L, null))
      .toDF("id_a", "id_b")
    val got = ranks(GraphOps.pageRankMicro(df, "id_a", "id_b"))
    assert(got.keySet === Set(1L, 2L))
  }

  test("triangle census: known graphs, orientation-insensitive input") {
    def census(p: org.apache.spark.sql.DataFrame) =
      GraphOps.triangleCensus(p, "id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .head
    // K4: 4 triangles, every deg 3 -> wedges 4*3=12, coeff 3*4/12 = 1
    val k4 = pairs((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L))
    assert(census(k4) === ((4L, 12L, 1000000L)))
    // path 1-2-3: no triangle, one wedge at node 2
    assert(census(pairs((1L, 2L), (2L, 3L))) === ((0L, 1L, 0L)))
    // triangle + pendant: 1 triangle; degs 2,2,3,1 -> wedges 1+1+3 = 5
    val tp = pairs((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
    assert(census(tp) === ((1L, 5L, 600000L)))
    // reversed/duplicated pairs and self-loops normalize away
    val messy = pairs((2L, 1L), (1L, 2L), (3L, 1L), (3L, 2L), (4L, 3L),
      (4L, 4L))
    assert(census(messy) === ((1L, 5L, 600000L)))
  }

  test("triangle census: degree and id orientations agree; star wedge bound") {
    val s = spark
    import s.implicits._
    // random graphs: both orientations must census identically
    val rnd = new scala.util.Random(11)
    val randomPairs = (1 to 300).map(_ =>
      (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter { case (x, y) => x != y }
    val p = randomPairs.toDF("id_a", "id_b")
    def census(byDeg: Boolean) =
      GraphOps.triangleCensus(p, "id_a", "id_b", byDegree = byDeg)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .head
    assert(census(byDeg = true) === census(byDeg = false))
    // the skew bound itself: a star whose hub carries the LOWEST id.
    // id orientation hangs every wedge off the hub (C(n-1,2) of them);
    // degree orientation points every edge INTO the hub -> zero
    // enumeration wedges.
    val star = (1L to 200L).map(i => (0L, i)).toDF("id_a", "id_b")
    val e = GraphOps.normalizedEdges(star, "id_a", "id_b")
    val deg = e.select(col("lo").as("id"))
      .union(e.select(col("hi").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    assert(GraphOps.orientedWedges(e, deg, byDegree = false).count() ===
      200L * 199L / 2)
    assert(GraphOps.orientedWedges(e, deg, byDegree = true).count() === 0L)
  }

  test("triangle census: empty and all-null edge lists census as zero") {
    // sum over zero degree rows is null — the census must coalesce it
    // to (0, 0, 0) instead of NPEing on a null primitive
    val empty = GraphOps.triangleCensus(
      pairs(), "id_a", "id_b").collect()
    assert(empty.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq === Seq((0L, 0L, 0L)))
    // self-loops only: normalizedEdges drops them all, same empty path
    val loops = GraphOps.triangleCensus(
      pairs((5L, 5L), (7L, 7L)), "id_a", "id_b").collect()
    assert(loops.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq === Seq((0L, 0L, 0L)))
  }

  test("pageRank: deterministic under repartition; total mass conserved-ish") {
    val p = pairs((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))
    val a = ranks(GraphOps.pageRankMicro(p, "id_a", "id_b"))
    val b = ranks(GraphOps.pageRankMicro(p.repartition(7), "id_a", "id_b"))
    assert(a === b)
    // unnormalized ranks: mass stays near n * 1e6 (integral-division
    // truncation only ever loses sub-unit dust per edge per round)
    val total = a.values.sum
    assert(total > 3990000L && total <= 4000000L, s"total $total")
  }

  test("pageRank: checkpointEvery bounds plan depth, identical ranks") {
    val p = pairs((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L),
      (4L, 5L), (5L, 6L))
    val plain = GraphOps.pageRankMicro(p, "id_a", "id_b",
      iterations = 12)
    val cut = GraphOps.pageRankMicro(p, "id_a", "id_b",
      iterations = 12, checkpointEvery = 3)
    assert(ranks(plain) === ranks(cut))
    // 12 uncheckpointed iterations carry 2 joins each; the last cut
    // (round 9) leaves at most 3 iterations' worth in the final plan.
    // Counted RELATIVELY (AQE's toString may print initial+final plan
    // sections, duplicating nodes a constant factor both sides).
    def joins(df: org.apache.spark.sql.DataFrame): Int =
      "(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)".r
        .findAllIn(df.queryExecution.executedPlan.toString).size
    val jPlain = joins(plain)
    val jCut = joins(cut)
    assert(jPlain >= 20, s"expected ~24 joins uncheckpointed, got $jPlain")
    assert(jCut * 3 <= jPlain,
      s"checkpointed plan not bounded: $jCut joins vs $jPlain plain")
  }

  test("pageRankUntil converges to the integer fixed point; top order matches g1's") {
    // symmetric barbell: two triangles bridged by one spurious pair —
    // the near-dup-graph shape where the centrality order is stable
    // between the 3-iteration oracle form and the fixed point (an
    // ASYMMETRIC graph can legitimately reorder mid-ranks as mass
    // keeps flowing; the production claim is checked on the real
    // near-dup graph in the PLANS.md rehearsal)
    val p = pairs((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L))
    val fixed = GraphOps.pageRankUntil(p, "id_a", "id_b", epsMicro = 0L,
      maxIterations = 60, checkpointEvery = 4)
    val got = ranks(fixed)
    // a true fixed point: one more exact-integer step changes nothing
    val again = ranks(GraphOps.pageRankUntil(p, "id_a", "id_b",
      epsMicro = 0L, maxIterations = 61, checkpointEvery = 4))
    assert(got === again)
    // the bridge endpoints are the centrality winners, mirror-equal;
    // ordering agrees with the oracle-expressible 3-iteration g1 form
    val three = ranks(GraphOps.pageRankMicro(p, "id_a", "id_b"))
    def order(m: Map[Long, Long]) =
      m.toSeq.sortBy { case (id, r) => (-r, id) }.map(_._1)
    assert(got(3L) === got(4L) && got(3L) > got(1L))
    assert(order(got) === order(three))
    // an isolated-pair graph converges instantly (both ends pinned at
    // exactly 1e6 every round) instead of looping to maxIterations
    val iso = ranks(GraphOps.pageRankUntil(pairs((10L, 11L)), "id_a",
      "id_b", epsMicro = 0L, maxIterations = 50))
    assert(iso === Map(10L -> 1000000L, 11L -> 1000000L))
  }

  test("pageRankUntilRun batches the convergence probe onto checkpoint rounds") {
    val p = pairs((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L))
    // checkpointEvery=1 is the per-round-probe form: the reference
    // for both the fixed point and the probe count
    val every = GraphOps.pageRankUntilRun(p, "id_a", "id_b",
      epsMicro = 0L, maxIterations = 60, checkpointEvery = 1)
    val batched = GraphOps.pageRankUntilRun(p, "id_a", "id_b",
      epsMicro = 0L, maxIterations = 60, checkpointEvery = 4)
    // identical fixed point and converged flag (a true fixed point is
    // idempotent, so the <=3-round overshoot changes no rank)
    assert(ranks(every.ranks) === ranks(batched.ranks))
    assert(every.converged && batched.converged)
    // per-round form probes once per iteration; the batched form one
    // per checkpoint round — the blocking-driver-job count drops by
    // ~checkpointEvery
    assert(every.probes === every.iterations)
    assert(batched.probes ===
      (batched.iterations + 3) / 4,
      s"probes=${batched.probes} iterations=${batched.iterations}")
    // overshoot is bounded: the batched run stops at the first probe
    // round at-or-after the per-round stopping point
    assert(batched.iterations >= every.iterations &&
      batched.iterations < every.iterations + 4)
  }

  test("hub skew: degree orientation bounds wedge fan-out on a 2k-star + cliques") {
    val s = spark
    import s.implicits._
    // adversarial power-law shape: a 2000-leaf hub (lowest id, the
    // worst case for the id orientation) riding on top of a normal
    // near-dup clique population
    val star = (1L to 2000L).map(i => (0L, i))
    val cliques = (0 until 50).flatMap { c =>
      val base = 10000L + c * 10
      for (i <- 0 until 4; j <- i + 1 until 4)
        yield (base + i, base + j)
    }
    val p = (star ++ cliques).toDF("id_a", "id_b")
    val e = GraphOps.normalizedEdges(p, "id_a", "id_b")
    val deg = e.select(col("lo").as("id"))
      .union(e.select(col("hi").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    // id orientation hangs C(2000,2) wedges off the hub; the degree
    // orientation points every star edge INTO the hub, leaving only
    // the clique wedges (+ leaf-vs-clique ties broken by id) —
    // three orders of magnitude fewer enumeration wedges
    val wById = GraphOps.orientedWedges(e, deg, byDegree = false).count()
    val wByDeg = GraphOps.orientedWedges(e, deg, byDegree = true).count()
    assert(wById >= 2000L * 1999L / 2,
      s"id orientation should fan out on the hub, got $wById")
    assert(wByDeg < 2000L, s"degree orientation fanned out: $wByDeg")
    // and the census itself is exact and orientation-independent:
    // 50 K4 cliques = 200 triangles; wedges = C(2000,2) for the hub +
    // 2000 leaves * C(1,2)=0 + 50 cliques * 4 nodes * C(3,2)
    def census(byDeg: Boolean) =
      GraphOps.triangleCensus(p, "id_a", "id_b", byDegree = byDeg)
        .collect().map(r => (r.getLong(0), r.getLong(1))).head
    val wedgeTotal = 2000L * 1999L / 2 + 50L * 4 * 3
    assert(census(byDeg = true) === ((200L, wedgeTotal)))
    assert(census(byDeg = false) === ((200L, wedgeTotal)))
  }

  // two bridged 4-cliques plus a disjoint 50-leaf star on hub 1000:
  // the near-dup graph with a boilerplate hub welded on, at fixture size
  private val clean = (for (c <- Seq(1L, 5L); a <- c to c + 3L;
    b <- (a + 1) to c + 3L) yield (a, b)) :+ ((4L, 5L))
  private val hubId = 1000L
  private val star = (1L to 50L).map(i => (hubId, hubId + i))

  test("welded star: LPA leaves agree, embeddedness unchanged, " +
    "assortativity drops") {
    val hubbed = pairs(clean ++ star: _*)
    // a star is bipartite: synchronous LPA swaps hub and leaf labels
    // each round, but every leaf sees the same neighborhood, so the
    // leaves share one label and the star carries at most two
    val lpa = ranks(GraphOps.labelPropagation(hubbed, "id_a", "id_b", 3))
    assert(star.map(e => lpa(e._2)).toSet.size === 1, lpa.toString)
    assert((star.map(e => lpa(e._2)) :+ lpa(hubId)).toSet.size <= 2)
    // the degree orientation points every leaf edge AT the hub, so the
    // star adds no wedge and no supported edge
    def supported(df: org.apache.spark.sql.DataFrame) =
      GraphOps.edgeEmbeddedness(df, "id_a", "id_b")
        .filter(col("cn_cnt") > 0).count()
    assert(supported(hubbed) === supported(pairs(clean: _*)))
    // a pure star is perfectly disassortative; welding one on drags r
    def r(df: org.apache.spark.sql.DataFrame) =
      GraphOps.degreeAssortativity(df, "id_a", "id_b").head().getDouble(1)
    assert(r(pairs(star: _*)) === -1.0)
    assert(r(hubbed) < r(pairs(clean: _*)))
  }

  test("personalizedPageRank under a welded star: leaves tie, " +
    "clean-seeded ranks unchanged, no mass leaks into the star") {
    val hubbed = pairs(clean ++ star: _*)
    val hubSeeded = ranks(GraphOps.personalizedPageRankMicro(
      hubbed, "id_a", "id_b", seeds = Seq(hubId)))
    val leafRanks = star.map(e => hubSeeded(e._2)).toSet
    assert(leafRanks.size === 1 && leafRanks.head > 0L, hubSeeded.toString)
    val onClean = ranks(GraphOps.personalizedPageRankMicro(
      pairs(clean: _*), "id_a", "id_b", seeds = Seq(1L)))
    val onHubbed = ranks(GraphOps.personalizedPageRankMicro(
      hubbed, "id_a", "id_b", seeds = Seq(1L)))
    assert(onHubbed.filter(_._1 < hubId) === onClean)
    assert(onHubbed.filter(_._1 >= hubId).values.forall(_ === 0L))
  }

  test("localClusteringMicro: per-vertex counts on a known graph") {
    val s = spark
    import s.implicits._
    // K4 minus edge {3,4}, plus pendant 5 on 4:
    // triangles {1,2,3} and {1,2,4}
    val p = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (2L, 4L),
      (4L, 5L)).toDF("id_a", "id_b")
    val got = GraphOps.localClusteringMicro(p, "id_a", "id_b")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got === Array(
      (1L, 3L, 2L, 666666L),   // 2 tri / C(3,2)=3 pairs -> 2/3
      (2L, 3L, 2L, 666666L),
      (3L, 2L, 1L, 1000000L),  // both neighbors linked
      (4L, 3L, 1L, 333333L),
      (5L, 1L, 0L, 0L)))       // deg < 2 -> defined as 0
  }

  test("kCorePeel: chains and pendants peel, the clique survives") {
    val s = spark
    import s.implicits._
    // chain 1-2-3-4, triangle 5-6-7, pendant 8 on 5
    val p = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L), (6L, 7L),
      (5L, 7L), (5L, 8L)).toDF("id_a", "id_b")
    val core = GraphOps.kCorePeel(p, "id_a", "id_b", k = 2, rounds = 4)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(core === Array((5L, 2L), (6L, 2L), (7L, 2L)))
    val stats = GraphOps.kCorePeelStats(p, "id_a", "id_b", 2, 4).head()
    assert(stats.getLong(0) === 3L && stats.getLong(1) === 3L)
    assert(stats.getBoolean(2), "triangle core must be a fixpoint")
  }

  test("kCorePeel: truncated rounds report non-convergence") {
    val s = spark
    import s.implicits._
    // a long chain peels one vertex per end per round: 1 round is
    // not enough to reach the (empty) 2-core, and the flag says so
    val chain = (1L until 8L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val one = GraphOps.kCorePeelStats(chain, "id_a", "id_b", 2, 1)
      .head()
    assert(!one.getBoolean(2), "1-round peel of a chain is truncated")
    val enough = GraphOps.kCorePeelStats(chain, "id_a", "id_b", 2, 4)
      .head()
    assert(enough.getLong(0) === 0L && enough.getBoolean(2),
      s"chain 2-core must be empty and converged: $enough")
  }

  test("localClusteringMicro agrees with the census triangle total") {
    val s = spark
    import s.implicits._
    // reversed/duplicated pairs + self-loop: normalization shared with
    // the census, and sum(tri) over vertices = 3 x census triangles
    val p = Seq((2L, 1L), (1L, 2L), (3L, 1L), (2L, 3L), (3L, 3L),
      (3L, 4L), (4L, 1L)).toDF("id_a", "id_b")
    val perVertex = GraphOps.localClusteringMicro(p, "id_a", "id_b")
    val triSum = perVertex.agg(sum("tri")).head().getLong(0)
    val census = GraphOps.triangleCensus(p, "id_a", "id_b")
      .head().getLong(0)
    assert(triSum === 3 * census)
    assert(census === 2L) // {1,2,3} and {1,3,4}
  }

  /** In-memory synchronous LPA over normalized undirected edges with
    * the same deterministic (count desc, label asc) mode rule — the
    * union-find-style reference the distributed form is checked
    * against. */
  private def refLpa(edges: Set[(Long, Long)],
                     rounds: Int): Map[Long, Long] = {
    val adj = edges.toSeq
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupMap(_._1)(_._2)
    var lab: Map[Long, Long] = adj.keys.map(i => i -> i).toMap
    (1 to rounds).foreach { _ =>
      lab = adj.map { case (v, ns) =>
        val counts = ns.groupBy(lab).view.mapValues(_.size)
        v -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    lab
  }

  test("labelPropagation: bridged cliques split where CC would fuse") {
    // two 4-cliques joined by ONE bridge edge (4,5): connected
    // components call this one cluster; the majority rule keeps each
    // clique under its own minimum label because the single bridge
    // never outvotes three in-clique neighbors
    val clique1 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val clique2 = for (a <- 5L to 8L; b <- (a + 1) to 8L) yield (a, b)
    val p = pairs(clique1 ++ clique2 :+ (4L, 5L): _*)
    val got = ranks(GraphOps.labelPropagation(p, "id_a", "id_b", 4))
    assert(got.keySet === (1L to 8L).toSet)
    val c1Labels = (1L to 4L).map(got).toSet
    val c2Labels = (6L to 8L).map(got).toSet
    assert(c1Labels.size === 1, s"clique 1 must agree: $got")
    assert(c2Labels.size === 1, s"clique 2 must agree: $got")
    assert(c1Labels != c2Labels, s"bridge must not fuse cliques: $got")
    assert(got === refLpa((clique1 ++ clique2 :+ (4L, 5L)).toSet, 4))
  }

  test("personalizedPageRank: exact 2-iteration micro arithmetic on a path") {
    // path 1-2-3, seed {1}: deg = (1, 2, 1)
    // r0 = (1e6, 0, 0)
    // r1(1) = 150000 + round(.85·(0 div 2))        = 150000
    // r1(2) = 0      + round(.85·(1e6 div 1 + 0))  = 850000
    // r1(3) = 0      + round(.85·(0 div 2))        = 0
    // r2(1) = 150000 + round(.85·(850000 div 2))   = 511250
    // r2(2) = 0      + round(.85·150000)           = 127500
    // r2(3) = 0      + round(.85·425000)           = 361250
    val p = pairs((1L, 2L), (2L, 3L))
    val got = ranks(GraphOps.personalizedPageRankMicro(
      p, "id_a", "id_b", seeds = Seq(1L), iterations = 2))
    assert(got === Map(1L -> 511250L, 2L -> 127500L, 3L -> 361250L))
  }

  test("personalizedPageRank: unseeded components score 0; absent seed flows nothing") {
    // seeded 2-clique {1,2} plus an isolated pair {10,11}
    val p = pairs((1L, 2L), (10L, 11L))
    val got = ranks(GraphOps.personalizedPageRankMicro(
      p, "id_a", "id_b", seeds = Seq(1L, 2L), iterations = 3))
    assert(got(10L) === 0L && got(11L) === 0L)
    assert(got(1L) === got(2L) && got(1L) > 0L,
      s"symmetric seeds must tie: $got")
    // a seed id that is not a node: no teleport mass ever enters
    val none = ranks(GraphOps.personalizedPageRankMicro(
      p, "id_a", "id_b", seeds = Seq(99L), iterations = 3))
    assert(none.values.forall(_ === 0L))
  }

  test("weightedPageRank: hand-computed micro arithmetic; constant " +
    "weights collapse to the unweighted form bit for bit") {
    val s = spark
    import s.implicits._
    // path 1-2 (w 1e6), 2-3 (w 5e5), one iteration, worked by hand:
    // W = (1e6, 1.5e6, 5e5)
    // r1(1) = 150000 + round(.85 * ((1e6*1e6) div 1.5e6)) = 716666
    // r1(2) = 150000 + round(.85 * (1e6 + 1e6))           = 1850000
    // r1(3) = 150000 + round(.85 * ((1e6*5e5) div 1.5e6)) = 433333
    val wp = Seq((1L, 2L, 1000000L), (2L, 3L, 500000L))
      .toDF("id_a", "id_b", "w")
    val got = GraphOps.weightedPageRankMicro(wp, "id_a", "id_b", "w",
        iterations = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 716666L, 2L -> 1850000L, 3L -> 433333L))
    // constant weights: (r*w) div (w*deg) = r div deg exactly, so the
    // ranks must equal pageRankMicro's on the same random graph
    val rnd = new scala.util.Random(23)
    val es = (1 to 50).map(_ =>
      (rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
      .filter { case (a, b) => a != b }.distinct
    val g = es.toDF("id_a", "id_b")
    val gw = es.map { case (a, b) => (a, b, 777L) }
      .toDF("id_a", "id_b", "w")
    val unweighted = ranks(GraphOps.pageRankMicro(g, "id_a", "id_b"))
    val constW = GraphOps.weightedPageRankMicro(gw, "id_a", "id_b", "w")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(constW === unweighted)
  }

  test("personalizedPageRank sparse frontier is bit-identical to dense") {
    // hand-pinned path arithmetic, the disconnected/absent-seed
    // contracts, AND a random graph — all node-for-node equal
    val path = pairs((1L, 2L), (2L, 3L))
    for ((p, seeds, iters) <- Seq(
        (path, Seq(1L), 2),
        (pairs((1L, 2L), (10L, 11L)), Seq(1L, 2L), 3),
        (pairs((1L, 2L), (10L, 11L)), Seq(99L), 3))) {
      val dense = ranks(GraphOps.personalizedPageRankMicro(
        p, "id_a", "id_b", seeds, iterations = iters))
      val sparse = ranks(GraphOps.personalizedPageRankMicro(
        p, "id_a", "id_b", seeds, iterations = iters, sparse = true))
      assert(sparse === dense)
    }
    val rnd = new scala.util.Random(17)
    val es = (1 to 60).map(_ =>
      (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
      .filter { case (a, b) => a != b }
    val g = pairs(es: _*)
    val dense = ranks(GraphOps.personalizedPageRankMicro(
      g, "id_a", "id_b", seeds = Seq(es.head._1), iterations = 4))
    val sparse = ranks(GraphOps.personalizedPageRankMicro(
      g, "id_a", "id_b", seeds = Seq(es.head._1), iterations = 4,
      sparse = true))
    assert(sparse === dense)
  }

  /** In-memory edge-embeddedness reference: common neighbors by set
    * intersection, Adamic-Adar with per-term micro rounding, Jaccard
    * by integer floor division — the same quantization contract. */
  private def refEmbed(edges: Set[(Long, Long)])
      : Map[(Long, Long), (Long, Long, Long, Long, Long)] = {
    val adj = edges.toSeq
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap
    edges.map { case (a, b) =>
      val cn = adj(a).intersect(adj(b))
      val aa = cn.toSeq
        .map(c => math.round(1e6 / math.log(adj(c).size.toDouble))).sum
    val jac = 1000000L * cn.size /
        (adj(a).size + adj(b).size - cn.size)
      (a, b) -> ((adj(a).size.toLong, adj(b).size.toLong,
        cn.size.toLong, aa, jac))
    }.toMap
  }

  test("edgeEmbeddedness: bridge scores zero, clique edges score high") {
    val clique1 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val clique2 = for (a <- 5L to 8L; b <- (a + 1) to 8L) yield (a, b)
    val all = (clique1 ++ clique2 :+ (4L, 5L)).toSet
    val got = GraphOps.edgeEmbeddedness(
        pairs(all.toSeq: _*), "id_a", "id_b")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6))))
      .toMap
    assert(got.keySet === all)
    // the bridge: no common neighbor, all three scores zero
    assert(got((4L, 5L)) === ((4L, 4L, 0L, 0L, 0L)))
    // an interior K4 edge: common neighbors {3, 4} with deg 3 and 4
    val aa12 = math.round(1e6 / math.log(3.0)) +
      math.round(1e6 / math.log(4.0))
    assert(got((1L, 2L)) === ((3L, 3L, 2L, aa12, 500000L)))
    assert(got === refEmbed(all))
  }

  test("edgeEmbeddedness matches the reference on random graphs") {
    val rnd = new scala.util.Random(917)
    (1 to 3).foreach { trial =>
      val n = 25
      val es = (1 to 80).map { _ =>
        val a = rnd.nextInt(n).toLong + 2 // deg-1 nodes exist too
        val b = rnd.nextInt(n).toLong + 2
        (math.min(a, b), math.max(a, b))
      }.filter { case (a, b) => a != b }.toSet
      val noisy = es.toSeq.flatMap { case (a, b) =>
        Seq((a, b), (b, a), (a, a)) }
      val got = GraphOps.edgeEmbeddedness(
          pairs(noisy: _*), "id_a", "id_b")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
            r.getLong(6))))
        .toMap
      assert(got === refEmbed(es), s"trial=$trial")
    }
  }

  test("labelPropagation matches the reference on random graphs") {
    val rnd = new scala.util.Random(1123)
    (1 to 3).foreach { trial =>
      val n = 30
      val es = (1 to 70).map { _ =>
        val a = rnd.nextInt(n).toLong
        val b = rnd.nextInt(n).toLong
        (math.min(a, b), math.max(a, b))
      }.filter { case (a, b) => a != b }.toSet
      // feed the UN-normalized, duplicated, reversed form: the
      // operator must normalize to the same edge set the ref sees
      val noisy = es.toSeq.flatMap { case (a, b) =>
        Seq((a, b), (b, a), (a, a)) }
      (1 to 4).foreach { rounds =>
        val got = ranks(GraphOps.labelPropagation(
          pairs(noisy: _*), "id_a", "id_b", rounds))
        assert(got === refLpa(es, rounds),
          s"trial=$trial rounds=$rounds")
      }
    }
  }

  test("modularity: textbook cliques, single community, empty graph") {
    def run(df: org.apache.spark.sql.DataFrame) =
      GraphOps.modularity(df, "id_a", "id_b", rounds = 3).head()
    // two disjoint triangles: LPA converges to one label per clique by
    // round 3; every edge intra, S = 12, Σm_c = 6, Σd_c² = 72 →
    // Q = (2·12·6 − 72)/144 = 0.5 — the textbook two-equal-cliques
    // value
    val two = run(pairs((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L)))
    assert(two.getLong(0) === 6L && two.getLong(1) === 2L)
    assert(two.getDouble(2) === 0.5, s"two cliques: $two")
    // one triangle = one community: Q = 0 exactly (no structure
    // beyond the degree sequence)
    val one = run(pairs((1L, 2L), (2L, 3L), (1L, 3L)))
    assert(one.getLong(0) === 3L && one.getLong(1) === 1L)
    assert(one.getDouble(2) === 0.0, s"one clique: $one")
    // reversed/duplicate/self-loop pairs normalize to the same answer
    val noisy = run(pairs((2L, 1L), (1L, 2L), (2L, 3L), (3L, 1L),
      (1L, 3L), (3L, 3L)))
    assert(noisy.getLong(0) === 3L && noisy.getDouble(2) === 0.0)
    // empty graph: (0, 0, NULL)
    val empty = run(pairs())
    assert(empty.getLong(0) === 0L && empty.getLong(1) === 0L &&
      empty.isNullAt(2), s"empty: $empty")
  }

  test("degreeAssortativity: golden paths, degenerate NULL, normalization") {
    def run(df: org.apache.spark.sql.DataFrame) =
      GraphOps.degreeAssortativity(df, "id_a", "id_b").head()
    // P4 path 1-2-3-4: directed endpoint-degree pairs
    // (1,2),(2,1),(2,2),(2,2),(2,1),(1,2) → r = (6·16−100)/(108−100)
    // ... Pearson = −0.5 by hand
    val p4 = run(pairs((1L, 2L), (2L, 3L), (3L, 4L)))
    assert(p4.getLong(0) === 6L)
    assert(p4.getDouble(1) === -0.5, s"p4: $p4")
    // P3 path: the two-point degree sets anticorrelate exactly: r = −1
    val p3 = run(pairs((1L, 2L), (2L, 3L)))
    assert(p3.getLong(0) === 4L && p3.getDouble(1) === -1.0)
    // a single edge has zero degree variance → NULL, never NaN
    val one = run(pairs((1L, 2L)))
    assert(one.getLong(0) === 2L && one.isNullAt(1), s"one: $one")
    // reversed + duplicate + self-loop pairs normalize away
    val noisy = run(pairs((2L, 1L), (1L, 2L), (2L, 3L), (3L, 4L),
      (4L, 4L)))
    assert(noisy.getLong(0) === 6L && noisy.getDouble(1) === -0.5)
  }

  test("bfsHops: path layers, multi-seed, reconvergence, absent seed") {
    def run(p: org.apache.spark.sql.DataFrame, seeds: Seq[Long],
            maxHops: Int) =
      GraphOps.bfsHops(p, "id_a", "id_b", seeds, maxHops)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val path = pairs((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
    // single seed: exact layers, nodes beyond maxHops absent
    assert(run(path, Seq(1L), 3) ===
      Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
    // multi-source: each node takes the NEAREST seed's distance
    assert(run(path, Seq(1L, 6L), 3) ===
      Map(1L -> 0L, 6L -> 0L, 2L -> 1L, 5L -> 1L, 3L -> 2L, 4L -> 2L))
    // cycle: a node reached along two routes settles once, at the
    // shortest distance
    val square = pairs((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
    assert(run(square, Seq(1L), 3) ===
      Map(1L -> 0L, 2L -> 1L, 4L -> 1L, 3L -> 2L))
    // a seed absent from the graph flows nothing (the PPR contract)
    assert(run(path, Seq(99L), 2) === Map.empty)
  }

  test("dbscanGraph: cores/borders/noise, bridge split, CC reduction") {
    def run(p: org.apache.spark.sql.DataFrame, minPts: Int) =
      GraphOps.dbscanGraph(p, "id_a", "id_b", minPts)
        .collect()
        .map(r => r.getLong(0) ->
          (r.getString(1),
            if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    // path 1-2-3 at minPts=2: only 2 is core (own singleton
    // cluster); 1 and 3 are borders attaching to it
    val path = run(pairs((1L, 2L), (2L, 3L)), 2)
    assert(path === Map(2L -> ("core", 2L), 1L -> ("border", 2L),
      3L -> ("border", 2L)), path.toString)
    // two 4-cliques joined via bridge node 10 at minPts=3: the
    // bridge fails the core test, so the cliques stay SEPARATE
    // clusters (what plain CC cannot do) and 10 is a border of the
    // smaller cluster id
    def clique(ids: Seq[Long]) = for {
      a <- ids; b <- ids if a < b
    } yield (a, b)
    val bridged = pairs(clique(Seq(1L, 2L, 3L, 4L)) ++
      clique(Seq(5L, 6L, 7L, 8L)) ++ Seq((4L, 10L), (10L, 5L)): _*)
    val two = run(bridged, 3)
    assert(Seq(1L, 2L, 3L, 4L).forall(two(_) == ("core", 1L)) &&
      Seq(5L, 6L, 7L, 8L).forall(two(_) == ("core", 5L)),
      two.toString)
    assert(two(10L) === ("border", 1L))
    // an isolated pair at minPts=2: no cores, no core neighbors →
    // both noise
    assert(run(pairs((7L, 8L)), 2) ===
      Map(7L -> ("noise", -1L), 8L -> ("noise", -1L)))
    // minPts=1 degrades to plain connected components
    val g = pairs((1L, 2L), (2L, 3L), (5L, 6L))
    val db1 = run(g, 1)
    val cc = graft.pipeline.Dedup.connectedComponents(g, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(db1.forall { case (id, (role, cl)) =>
      role == "core" && cl == cc(id) }, s"$db1 vs CC $cc")
  }

  test("resourceAllocationMicro: star weights, edge exclusion, cap") {
    def run(p: org.apache.spark.sql.DataFrame, maxDeg: Long) =
      GraphOps.resourceAllocationMicro(p, "id_a", "id_b", maxDeg)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3))).toMap
    // star 0—{1,2,3}: every leaf pair shares only the hub (deg 3) →
    // cn=1, ra=round(1e6/3); no leaf pair is an edge
    val star = pairs((0L, 1L), (0L, 2L), (0L, 3L))
    assert(run(star, 1000L) === Map(
      (1L, 2L) -> (1L, 333333L), (1L, 3L) -> (1L, 333333L),
      (2L, 3L) -> (1L, 333333L)))
    // capping out the hub removes its wedges entirely
    assert(run(star, 2L) === Map.empty)
    // 4-cycle: (1,3) and (2,4) each share TWO deg-2 neighbors →
    // cn=2, ra=2·500000; adjacent pairs are edges and must not appear
    val square = pairs((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
    assert(run(square, 1000L) === Map(
      (1L, 3L) -> (2L, 1000000L), (2L, 4L) -> (2L, 1000000L)))
    // triangle + pendant: wedges through the deg-3 node that land on
    // an existing edge drop; only the pendant pairs survive
    val tri = pairs((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L))
    assert(run(tri, 1000L) === Map(
      (2L, 4L) -> (1L, 333333L), (3L, 4L) -> (1L, 333333L)))
  }

  test("louvainOneLevel: bridged cliques collapse, Q non-decreasing") {
    def clique(ids: Seq[Long]) = for { a <- ids; b <- ids if a < b }
      yield (a, b)
    val edges = clique(Seq(1L, 2L, 3L, 4L)) ++
      clique(Seq(5L, 6L, 7L, 8L)) :+ (4L, 8L)
    val p = pairs(edges: _*)
    val got = GraphOps.louvainOneLevel(p, "id_a", "id_b").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    // 2m = 26; inside clique 1: gains 26 − deg(i)·deg(j) with degs
    // 3/3/3/4 are all positive and the min-id rule sends 2,3,4 → 1;
    // node 8 prefers 5/6/7 (gain 26−12=14) over bridge 4 (26−16=10)
    assert((2L to 4L).forall(got(_)._2 == 1L), got.toString)
    assert(got(1L)._2 === 1L && got(1L)._3 === 0L) // min id stays
    assert((6L to 8L).forall(got(_)._2 == 5L), got.toString)
    assert(got(5L)._2 === 5L)
    assert(got(8L)._3 === 14L && got(2L)._3 === (26L - 9L))
    // degrees reported: 4,8 carry the bridge
    assert(got(4L)._1 === 4L && got(8L)._1 === 4L && got(2L)._1 === 3L)
    // Q(after) ≥ Q(before=singletons) through the shared scorer
    val e = GraphOps.normalizedEdges(p, "id_a", "id_b")
    def q(labels: org.apache.spark.sql.DataFrame): Double =
      GraphOps.modularityOfLabels(e, labels).head().getDouble(2)
    val s = spark
    import s.implicits._
    val before = q((1L to 8L).map(i => i -> i).toSeq.toDF("id", "label"))
    val after = q(got.toSeq.map { case (id, (_, c, _)) => id -> c }
      .toDF("id", "label"))
    assert(after >= before, s"Q must not decrease: $before -> $after")
    assert(after > 0.3, s"two cliques are real structure: $after")
  }

  test("louvainTwoLevel: merges what level 1 left, Q non-decreasing, " +
    "weak bridge stays cut") {
    val s = spark
    import s.implicits._
    // two blocks, each = two triangles joined by a 2-edge bundle;
    // ONE weak bridge (3,9) between the blocks. Level 1 fractures
    // each block into a big community plus singleton leftovers (the
    // synchronous chain effect); level 2's weighted round folds the
    // leftovers in, while the bridge's 2m·1 never outweighs the
    // block-supernode degree product.
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (1L, 4L), (2L, 5L),
      (7L, 8L), (7L, 9L), (8L, 9L), (10L, 11L), (10L, 12L),
      (11L, 12L), (7L, 10L), (8L, 11L), (3L, 9L))
    val p = pairs(edges: _*)
    val l1 = GraphOps.louvainOneLevel(p, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val l2 = GraphOps.louvainTwoLevel(p, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    // one level-2 row per level-1 community, keyed by its label
    assert(l2.keySet === l1.values.toSet, s"$l1 vs $l2")
    val composed = l1.map { case (id, c) => id -> l2(c) }
    assert(composed.values.toSet.size < l1.values.toSet.size,
      s"level 2 must merge something: $l1 -> $composed")
    val left = (1L to 6L).map(composed).toSet
    val right = (7L to 12L).map(composed).toSet
    assert(left.intersect(right).isEmpty,
      s"bridge must not fuse blocks: $composed")
    // Q through the shared scorer: singletons < level 1 ≤ composed
    val e = GraphOps.normalizedEdges(p, "id_a", "id_b")
    def q(m: Map[Long, Long]): Double = GraphOps.modularityOfLabels(e,
      m.toSeq.toDF("id", "label")).head().getDouble(2)
    val qSingle = q((1L to 12L).map(i => i -> i).toMap)
    val qL1 = q(l1)
    val qL2 = q(composed)
    assert(qL1 > qSingle && qL2 >= qL1, s"$qSingle -> $qL1 -> $qL2")
  }

  test("louvainConverged: sweep 2 strictly improves Q, fixpoint " +
    "equals the l2∘l1 composition, extra cap is a no-op") {
    val s = spark
    import s.implicits._
    // the louvainTwoLevel fixture: level 1 fractures each block,
    // level 2 folds the leftovers in, level 3 finds no positive gain
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (1L, 4L), (2L, 5L),
      (7L, 8L), (7L, 9L), (8L, 9L), (10L, 11L), (10L, 12L),
      (11L, 12L), (7L, 10L), (8L, 11L), (3L, 9L))
    val p = pairs(edges: _*)
    // the smaller-id guard merges one link of a chain per sweep, so
    // this fixture needs FOUR sweeps (verified by hand: level 1
    // fractures, levels 2-4 fold 10/5/3/1 moves); sweep 5 finds no
    // positive gain (the bridge's 2m·1 = 34 < k1·k3 = 289) and the
    // loop exits below the cap — true convergence, not cap exhaustion
    val conv = GraphOps.louvainConverged(p, "id_a", "id_b",
      maxLevels = 8).collect()
    // labels compose across levels, never expand: one row per node
    assert(conv.length === 12)
    val labels = conv.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nLevels = conv.map(r => r.getLong(2)).distinct
    assert(nLevels === Array(4L), conv.mkString(","))
    // the fixpoint: each block one community, the bridge never fuses
    assert((1L to 6L).map(labels).toSet === Set(1L), labels.toString)
    assert((7L to 12L).map(labels).toSet === Set(3L), labels.toString)
    // Q strictly improves past sweep 1 AND past the g17 two-sweep
    // composition (sweeps 3-4 still applied positive-gain moves)
    val l1 = GraphOps.louvainOneLevel(p, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val l2 = GraphOps.louvainTwoLevel(p, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    val composed = l1.map { case (id, c) => id -> l2(c) }
    val e = GraphOps.normalizedEdges(p, "id_a", "id_b")
    def q(m: Map[Long, Long]): Double = GraphOps.modularityOfLabels(e,
      m.toSeq.toDF("id", "label")).head().getDouble(2)
    assert(q(composed) > q(l1), s"${q(l1)} -> ${q(composed)}")
    assert(q(labels) > q(composed), s"${q(composed)} -> ${q(labels)}")
    // a tighter cap that still covers convergence changes nothing;
    // n_levels rides along identically (sweep 5 is a no-op)
    val conv4 = GraphOps.louvainConverged(p, "id_a", "id_b",
        maxLevels = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(conv4 === conv.map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
  }

  test("louvainOneLevel: no synchronous swap on a single pair") {
    // two connected singletons: without the smaller-id guard both
    // would adopt each other's community (a swap — Q unchanged,
    // oscillation seeded); with it only the larger id moves
    val got = GraphOps.louvainOneLevel(pairs((7L, 3L)), "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got === Map(3L -> 3L, 7L -> 3L), got.toString)
  }
}
