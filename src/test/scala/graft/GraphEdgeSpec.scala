package graft

import graft.pipeline.{Dedup, GraphOps}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Degenerate inputs through every public graph operator (GraphOps,
  * connectedComponents, mergeComponents): each call gives its
  * documented answer — an empty frame, or the one-row report with
  * counts 0 and a NULL statistic — or its declared
  * IllegalArgumentException, never any other exception. Iteration
  * parameters sit at their minimum throughout. */
class GraphEdgeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** (id_a, id_b, w) rows, w = 1; nulls allowed in the ids. */
  private def pairs(rows: (java.lang.Long, java.lang.Long)*): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (a, b) =>
        Row(a, b, 1L) }: _*),
      StructType(Seq(StructField("id_a", LongType),
        StructField("id_b", LongType), StructField("w", LongType))))

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private val empty = pairs()
  private val loops = pairs((5L, 5L), (7L, 7L))
  private val nullIds = pairs((null, null), (1L, null), (null, 2L))
  private val one = pairs((1L, 2L))
  private val oneRepeated = pairs((1L, 2L), (2L, 1L), (1L, 2L))

  /** Every operator that normalizes its input (distinct, lo < hi, no
    * self-loops, no null ids), at minimum parameters. */
  private val normalizing: Seq[(String, DataFrame => DataFrame)] = Seq(
    "triangleCensus" -> (p => GraphOps.triangleCensus(p, "id_a", "id_b")),
    "triangleCensus(id)" -> (p =>
      GraphOps.triangleCensus(p, "id_a", "id_b", byDegree = false)),
    "localClusteringMicro" -> (p =>
      GraphOps.localClusteringMicro(p, "id_a", "id_b")),
    "kCorePeel" -> (p => GraphOps.kCorePeel(p, "id_a", "id_b", 1, 1)),
    "kCorePeelStats" -> (p =>
      GraphOps.kCorePeelStats(p, "id_a", "id_b", 1, 1)),
    "normalizedEdges" -> (p =>
      GraphOps.normalizedEdges(p, "id_a", "id_b")),
    "orientedWedges" -> { p =>
      val e = GraphOps.normalizedEdges(p, "id_a", "id_b")
      val deg = e.select(col("lo").as("id"))
        .union(e.select(col("hi").as("id")))
        .groupBy("id").agg(count(lit(1)).as("deg"))
      GraphOps.orientedWedges(e, deg, byDegree = true)
    },
    "labelPropagation" -> (p =>
      GraphOps.labelPropagation(p, "id_a", "id_b", 1)),
    "labelPropagationNormalized" -> (p =>
      GraphOps.labelPropagationNormalized(
        GraphOps.normalizedEdges(p, "id_a", "id_b"), 1)),
    "edgeEmbeddedness" -> (p =>
      GraphOps.edgeEmbeddedness(p, "id_a", "id_b")),
    "modularity" -> (p => GraphOps.modularity(p, "id_a", "id_b", 1)),
    "louvainOneLevel" -> (p =>
      GraphOps.louvainOneLevel(p, "id_a", "id_b")),
    "louvainTwoLevel" -> (p =>
      GraphOps.louvainTwoLevel(p, "id_a", "id_b")),
    "louvainConverged" -> (p =>
      GraphOps.louvainConverged(p, "id_a", "id_b", maxLevels = 1)),
    "degreeAssortativity" -> (p =>
      GraphOps.degreeAssortativity(p, "id_a", "id_b")),
    "bfsHops" -> (p => GraphOps.bfsHops(p, "id_a", "id_b", Seq(1L), 1)),
    "resourceAllocationMicro" -> (p =>
      GraphOps.resourceAllocationMicro(p, "id_a", "id_b", 2L)),
    "dbscanGraph" -> (p => GraphOps.dbscanGraph(p, "id_a", "id_b", 1)),
    "connectedComponents" -> (p =>
      Dedup.connectedComponents(p, "id_a", "id_b")),
    "mergeComponents" -> (p =>
      Dedup.mergeComponents(Dedup.connectedComponents(empty, "id_a",
        "id_b"), p, "id_a", "id_b")))

  /** The PageRank family keeps multigraph semantics (no
    * normalization: a self-loop is a node, a repeated pair two more
    * edges); null-id pairs still drop. */
  private val pageRanks: Seq[(String, DataFrame => DataFrame)] = Seq(
    "pageRankMicro" -> (p =>
      GraphOps.pageRankMicro(p, "id_a", "id_b", iterations = 1)),
    "pageRankUntilRun" -> (p => GraphOps.pageRankUntilRun(p, "id_a",
      "id_b", maxIterations = 1).ranks),
    "personalizedPageRankMicro" -> (p =>
      GraphOps.personalizedPageRankMicro(p, "id_a", "id_b", Seq(5L, 1L),
        iterations = 1)),
    "personalizedPageRankMicro(sparse)" -> (p =>
      GraphOps.personalizedPageRankMicro(p, "id_a", "id_b", Seq(5L, 1L),
        iterations = 1, sparse = true)),
    "weightedPageRankMicro" -> (p => GraphOps.weightedPageRankMicro(p,
      "id_a", "id_b", "w", iterations = 1)))

  /** The documented answer on a graph with no edge: the reports' one
    * row of zero counts (NULL statistic), every other frame empty. */
  private val noEdgeAnswer = Map[String, Set[Seq[Any]]](
    "triangleCensus" -> Set(Seq(0L, 0L, 0L)),
    "triangleCensus(id)" -> Set(Seq(0L, 0L, 0L)),
    "kCorePeelStats" -> Set(Seq(0L, 0L, true)),
    "modularity" -> Set(Seq(0L, 0L, null)),
    "degreeAssortativity" -> Set(Seq(0L, null))
  ).withDefaultValue(Set.empty)

  private def assertNoEdgeAnswers(p: DataFrame): Unit =
    normalizing.foreach { case (name, op) =>
      assert(rows(op(p)) === noEdgeAnswer(name), name)
    }

  test("empty pairs: empty frames and zero-count reports") {
    assertNoEdgeAnswers(empty)
    pageRanks.foreach { case (name, op) =>
      assert(rows(op(empty)).isEmpty, name) }
  }

  test("null ids only: every pair drops, as on empty input") {
    assertNoEdgeAnswers(nullIds)
    pageRanks.foreach { case (name, op) =>
      assert(rows(op(nullIds)).isEmpty, name) }
  }

  test("self-loops only: no edge after normalization; PageRank keeps the nodes") {
    assertNoEdgeAnswers(loops)
    // a self-loop is two directed edges back to its node: deg 2, each
    // carrying rank div 2, so a seeded or uniform rank stays 1e6
    // (150000 + round(0.85 · 1e6)); an unseeded node's stays 0
    val uniform = Set(Seq(5L, 1000000L), Seq(7L, 1000000L))
    val seeded = Set(Seq(5L, 1000000L), Seq(7L, 0L))
    pageRanks.foreach { case (name, op) =>
      val want = if (name.startsWith("personalized")) seeded else uniform
      assert(rows(op(loops)) === want, name)
    }
  }

  test("one pair: exact answers") {
    val want = Map[String, Set[Seq[Any]]](
      "triangleCensus" -> Set(Seq(0L, 0L, 0L)),
      "triangleCensus(id)" -> Set(Seq(0L, 0L, 0L)),
      "localClusteringMicro" ->
        Set(Seq(1L, 1L, 0L, 0L), Seq(2L, 1L, 0L, 0L)),
      "kCorePeel" -> Set(Seq(1L, 1L), Seq(2L, 1L)),
      "kCorePeelStats" -> Set(Seq(2L, 1L, true)),
      "normalizedEdges" -> Set(Seq(1L, 2L)),
      "orientedWedges" -> Set(),
      // synchronous mode rule: each end adopts the other's label
      "labelPropagation" -> Set(Seq(1L, 2L), Seq(2L, 1L)),
      "labelPropagationNormalized" -> Set(Seq(1L, 2L), Seq(2L, 1L)),
      "edgeEmbeddedness" -> Set(Seq(1L, 2L, 1L, 1L, 0L, 0L, 0L)),
      // two singleton communities of degree 1: Q = (0 − 2) / 4
      "modularity" -> Set(Seq(1L, 2L, -0.5)),
      // gain(2 → 1) = 2m·1 − 1·1 = 1 > 0
      "louvainOneLevel" -> Set(Seq(1L, 1L, 1L, 0L), Seq(2L, 1L, 1L, 1L)),
      "louvainTwoLevel" -> Set(Seq(1L, 2L, 1L, 1L, 0L)),
      "louvainConverged" -> Set(Seq(1L, 1L, 1L), Seq(2L, 1L, 1L)),
      "degreeAssortativity" -> Set(Seq(2L, null)),
      "bfsHops" -> Set(Seq(1L, 0L), Seq(2L, 1L)),
      "resourceAllocationMicro" -> Set(),
      "dbscanGraph" -> Set(Seq(1L, "core", 1L), Seq(2L, "core", 1L)),
      "connectedComponents" -> Set(Seq(1L, 1L), Seq(2L, 1L)),
      "mergeComponents" -> Set(Seq(1L, 1L), Seq(2L, 1L)))
    normalizing.foreach { case (name, op) =>
      assert(rows(op(one)) === want(name), name) }
    // deg 1 each: every rank passes whole; a seed keeps its 1e6, the
    // unseeded end receives 0.85 · 1e6
    val uniform = Set(Seq(1L, 1000000L), Seq(2L, 1000000L))
    pageRanks.foreach { case (name, op) =>
      val want = if (name.startsWith("personalized"))
        Set(Seq(1L, 150000L), Seq(2L, 850000L)) else uniform
      assert(rows(op(one)) === want, name)
    }
  }

  test("one pair repeated and reversed: normalizing operators see one pair") {
    normalizing.foreach { case (name, op) =>
      assert(rows(op(oneRepeated)) === rows(op(one)), name) }
    // the PageRank family counts every copy (deg 3 on each end), and
    // the two ends stay mirror-equal
    pageRanks.foreach { case (name, op) =>
      val got = rows(op(oneRepeated)).map(r => r(0) -> r(1)).toMap
      assert(got.keySet === Set(1L, 2L), name)
      if (!name.startsWith("personalized"))
        assert(got(1L) === got(2L), name)
    }
  }

  test("seeds absent from the graph: no seed, no mass, no hop") {
    val absent = Seq(99L)
    assert(rows(GraphOps.personalizedPageRankMicro(one, "id_a", "id_b",
      absent, iterations = 1)) === Set(Seq(1L, 0L), Seq(2L, 0L)))
    assert(rows(GraphOps.personalizedPageRankMicro(one, "id_a", "id_b",
      absent, iterations = 1, sparse = true)) ===
      Set(Seq(1L, 0L), Seq(2L, 0L)))
    assert(rows(GraphOps.bfsHops(one, "id_a", "id_b", absent, 1)).isEmpty)
  }

  test("parameters below their minimum: declared IllegalArgumentException") {
    Seq[() => Any](
      () => GraphOps.pageRankMicro(one, "id_a", "id_b", iterations = 0),
      () => GraphOps.pageRankUntilRun(one, "id_a", "id_b",
        maxIterations = 0),
      () => GraphOps.pageRankUntilRun(one, "id_a", "id_b",
        epsMicro = -1L),
      () => GraphOps.personalizedPageRankMicro(one, "id_a", "id_b",
        Seq(1L), iterations = 0),
      () => GraphOps.personalizedPageRankMicro(one, "id_a", "id_b",
        Nil),
      () => GraphOps.weightedPageRankMicro(one, "id_a", "id_b", "w",
        iterations = 0),
      () => GraphOps.kCorePeel(one, "id_a", "id_b", 0, 1),
      () => GraphOps.kCorePeel(one, "id_a", "id_b", 1, 0),
      () => GraphOps.kCorePeelStats(one, "id_a", "id_b", 1, 0),
      () => GraphOps.labelPropagation(one, "id_a", "id_b", 0),
      () => GraphOps.modularity(one, "id_a", "id_b", 0),
      () => GraphOps.louvainConverged(one, "id_a", "id_b", 0),
      () => GraphOps.bfsHops(one, "id_a", "id_b", Seq(1L), 0),
      () => GraphOps.bfsHops(one, "id_a", "id_b", Nil, 1),
      () => GraphOps.resourceAllocationMicro(one, "id_a", "id_b", 1L),
      () => GraphOps.dbscanGraph(one, "id_a", "id_b", 0)
    ).zipWithIndex.foreach { case (call, i) =>
      withClue(s"call $i: ") {
        intercept[IllegalArgumentException](call())
      }
    }
  }
}
