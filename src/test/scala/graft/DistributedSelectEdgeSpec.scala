package graft

import graft.ops.DistributedSelect._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Degenerate inputs through every public selection operator: each
  * call gives the exact answer or its declared
  * IllegalArgumentException — never an NPE, a NoSuchElementException
  * or a silent wrong value. */
class DistributedSelectEdgeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val Ninf = Double.NegativeInfinity
  private val Pinf = Double.PositiveInfinity

  /** (g, v, w) rows; nulls allowed in every column. */
  private def frame(rows: (String, java.lang.Double, java.lang.Long)*)
      : DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (g, v, w) =>
        Row(g, v, w) }: _*),
      StructType(Seq(StructField("g", StringType),
        StructField("v", DoubleType), StructField("w", LongType))))

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq

  /** Every operator that needs at least one comparable value. */
  private def allRejectNoValues(df: DataFrame): Unit = {
    Seq[() => Any](
      () => kthSmallest(df, "v", 1),
      () => weightedKthSmallest(df, "v", "w", 1),
      () => exactQuantile(df, "v", 0.5),
      () => exactWeightedQuantile(df, "v", "w", 0.5),
      () => exactQuantiles(df, "v", Seq(0.5, 0.9)),
      () => madFrame(df, "v"),
      () => winsorizedMeanMicro(df, "v"),
      () => equiDepthHistogram(df, "v", 4)
    ).foreach(call => intercept[IllegalArgumentException](call()))
    // the grouped forms have no group to answer: an empty table
    assert(rows(groupedWeightedQuantile(df, "g", "v", "w", 0.5)).isEmpty)
    assert(rows(groupedMad(df, "g", "v", "w")).isEmpty)
  }

  test("empty input: declared errors, empty grouped tables") {
    allRejectNoValues(frame())
  }

  test("all-null/NaN values behave as empty input") {
    allRejectNoValues(frame(("a", null, 1L), ("a", Double.NaN, 2L),
      ("b", null, null)))
  }

  test("one row is every order statistic of itself") {
    val df = frame(("a", 3.0, 2L))
    assert(kthSmallest(df, "v", 1) === ((3.0, 0)))
    intercept[IllegalArgumentException](kthSmallest(df, "v", 2))
    assert(weightedKthSmallest(df, "v", "w", 2) === ((3.0, 0)))
    intercept[IllegalArgumentException](
      weightedKthSmallest(df, "v", "w", 3))
    assert(rows(exactQuantile(df, "v", 0.5)) === Seq(Seq(3.0, 1L, 1L)))
    assert(rows(exactWeightedQuantile(df, "v", "w", 1.0)) ===
      Seq(Seq(3.0, 2L, 2L)))
    assert(rows(exactQuantiles(df, "v", Seq(1.0, 0.5))) ===
      Seq(Seq(0.5, 3.0, 1L, 1L), Seq(1.0, 3.0, 1L, 1L)))
    assert(rows(madFrame(df, "v")) === Seq(Seq(3.0, 0.0, 1L)))
    assert(rows(winsorizedMeanMicro(df, "v")) ===
      Seq(Seq(3.0, 3.0, 1L, 3000000L)))
    assert(rows(groupedWeightedQuantile(df, "g", "v", "w", 0.5)) ===
      Seq(Seq("a", 3.0, 2L, 1L)))
    assert(rows(groupedMad(df, "g", "v", "w")) ===
      Seq(Seq("a", 3.0, 0.0, 2L)))
    assert(rows(equiDepthHistogram(df, "v", 2)) ===
      Seq(Seq(0L, null, 3.0, 1L), Seq(1L, 3.0, null, 0L)))
  }

  test("all-infinite values resolve from the head masses") {
    // unweighted: -Inf, -Inf, +Inf; weighted: -Inf ×3, +Inf ×3
    val df = frame(("a", Ninf, 1L), ("a", Ninf, 2L), ("a", Pinf, 3L))
    assert((1 to 3).map(k => kthSmallest(df, "v", k)) ===
      Seq((Ninf, 0), (Ninf, 0), (Pinf, 0)))
    intercept[IllegalArgumentException](kthSmallest(df, "v", 4))
    assert((1 to 6).map(k => weightedKthSmallest(df, "v", "w", k)._1) ===
      Seq(Ninf, Ninf, Ninf, Pinf, Pinf, Pinf))
    assert(rows(exactQuantile(df, "v", 0.5)) === Seq(Seq(Ninf, 3L, 2L)))
    assert(rows(exactWeightedQuantile(df, "v", "w", 1.0)) ===
      Seq(Seq(Pinf, 6L, 6L)))
    assert(rows(exactQuantiles(df, "v", Seq(0.5, 1.0))) ===
      Seq(Seq(0.5, Ninf, 3L, 2L), Seq(1.0, Pinf, 3L, 3L)))
    assert(rows(groupedWeightedQuantile(df, "g", "v", "w", 0.5)) ===
      Seq(Seq("a", Ninf, 6L, 3L)))
    assert(rows(equiDepthHistogram(df, "v", 2)) ===
      Seq(Seq(0L, null, Ninf, 2L), Seq(1L, Ninf, null, 1L)))
    // the median is -Inf, so |x − m| is NaN (excluded) for the -Inf
    // rows: madFrame's rank 2 outruns the one deviation left, while
    // groupedMad re-ranks the deviations by their own weight (3)
    intercept[IllegalArgumentException](madFrame(df, "v"))
    assert(rows(groupedMad(df, "g", "v", "w")) ===
      Seq(Seq("a", Ninf, Pinf, 6L)))
    // an infinite clamp has no micro-unit mean
    intercept[IllegalArgumentException](winsorizedMeanMicro(df, "v"))
  }

  test("a null or non-positive weight is rejected by every weighted operator") {
    Seq[java.lang.Long](null, 0L, -1L).foreach { bad =>
      val df = frame(("a", 1.0, 1L), ("a", 2.0, bad))
      intercept[IllegalArgumentException](
        weightedKthSmallest(df, "v", "w", 1))
      intercept[IllegalArgumentException](
        exactWeightedQuantile(df, "v", "w", 0.5))
      intercept[IllegalArgumentException](
        groupedWeightedQuantile(df, "g", "v", "w", 0.5))
      intercept[IllegalArgumentException](groupedMad(df, "g", "v", "w"))
    }
  }

  test("an empty group is absent and the other groups are answered") {
    // "e" has only null/NaN values; a null group key drops its row
    val df = frame(("a", 4.0, 1L), ("a", 8.0, 1L), ("e", null, 1L),
      ("e", Double.NaN, 1L), (null, 1.0, 1L))
    assert(rows(groupedWeightedQuantile(df, "g", "v", "w", 0.5)) ===
      Seq(Seq("a", 4.0, 2L, 1L)))
    assert(rows(groupedMad(df, "g", "v", "w")) ===
      Seq(Seq("a", 4.0, 0.0, 2L)))
  }

  test("madFrame: a deviation that overflows to +Inf keeps the MAD exact") {
    val big = Double.MaxValue
    // m = MaxValue, so |−MaxValue − m| overflows to +Inf
    assert(rows(madFrame(frame(("a", -big, 1L), ("a", big, 1L),
      ("a", big, 1L)), "v")) === Seq(Seq(big, 0.0, 3L)))
    // m = 0: every deviation stays finite
    assert(rows(madFrame(frame(("a", -1e308, 1L), ("a", 0.0, 1L),
      ("a", 1e308, 1L)), "v")) === Seq(Seq(0.0, 1e308, 3L)))
  }
}
