package graft

import graft.pipeline.Eval
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Degenerate inputs through every two-sample face — KS, W1,
  * Mann–Whitney, Anderson–Darling, energy distance, their reference
  * forms and the drift panel: every call gives one row (five for the
  * panel) with its counts reported (0 on empty input) and the
  * statistic NULL where it is undefined — never an exception, a
  * missing row or NULL counts. Each test runs all inputs of its face
  * and lists every mismatch. */
class TwoSampleEdgeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val NaN = java.lang.Double.valueOf(Double.NaN)

  /** (v, a) rows; `v` nullable. */
  private def frame(rows: (java.lang.Double, Boolean)*): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (v, a) => Row(v, a) }: _*),
      StructType(Seq(StructField("v", DoubleType),
        StructField("a", BooleanType))))
      .withColumn("seg", when(col("a"), "a").otherwise("b"))

  private def d(x: Double): java.lang.Double = java.lang.Double.valueOf(x)

  private val empty = frame()
  private val oneSide = frame((d(1.0), true), (d(2.0), true))
  private val shared = frame((d(5.0), true), (d(5.0), true),
    (d(5.0), false))
  private val nulls = frame((null, true), (null, false))
  private val nullsNaN = frame((null, true), (NaN, false), (NaN, true))

  /** Runs every (label, call, expected rows) case and fails once with
    * all mismatches, so one run reports every outcome of a face. */
  private def expectAll(cases: (String, () => DataFrame,
                                Seq[Seq[Any]])*): Unit = {
    val bad = cases.flatMap { case (label, call, want) =>
      val got = try Right(call().collect().map(_.toSeq).toSeq)
        catch { case e: Exception => Left(e.toString.take(200)) }
      got match {
        case Right(rows) if rows == want => None
        case Right(rows) => Some(s"$label: got $rows, want $want")
        case Left(err) => Some(s"$label: threw $err")
      }
    }
    assert(bad.isEmpty, bad.mkString("\n", "\n", ""))
  }

  test("ksMicro: one row, counts reported, NULL ks on an empty side") {
    def ks(df: DataFrame) = () =>
      Eval.ksMicro(df, col("v"), col("seg"), "a", "b")
    expectAll(
      ("empty", ks(empty), Seq(Seq(null, 0L, 0L, 0L))),
      ("one side", ks(oneSide), Seq(Seq(null, 2L, 0L, 2L))),
      ("one shared value", ks(shared), Seq(Seq(0L, 2L, 1L, 1L))))
  }

  test("wasserstein1Micro: one row, counts reported, NULL w1 on an " +
    "empty side") {
    def w1(df: DataFrame) = () =>
      Eval.wasserstein1Micro(df, col("v"), col("seg"), "a", "b")
    expectAll(
      ("empty", w1(empty), Seq(Seq(null, 0L, 0L, 0L))),
      ("one side", w1(oneSide), Seq(Seq(null, 2L, 0L, 2L))),
      ("one shared value", w1(shared), Seq(Seq(0L, 2L, 1L, 1L))),
      ("all null", w1(nulls), Seq(Seq(null, 0L, 0L, 0L))))
  }

  test("mannWhitneyU: one row, counts reported, NULL z when undefined") {
    def mw(df: DataFrame) = () =>
      Eval.mannWhitneyU(df, col("v"), col("a"))
    expectAll(
      ("empty", mw(empty), Seq(Seq(0L, 0L, 0L, 0L, null))),
      ("one side", mw(oneSide), Seq(Seq(2L, 0L, 0L, 0L, null))),
      ("one shared value", mw(shared), Seq(Seq(2L, 1L, 2L, 24L, null))),
      ("all null or NaN", mw(nullsNaN), Seq(Seq(0L, 0L, 0L, 0L, null))))
  }

  test("andersonDarling2: one row, counts reported, NULL ad when " +
    "undefined") {
    def ad(df: DataFrame) = () =>
      Eval.andersonDarling2(df, col("v"), col("a"))
    expectAll(
      ("empty", ad(empty), Seq(Seq(0L, 0L, 0L, null))),
      ("one side", ad(oneSide), Seq(Seq(2L, 0L, 2L, null))),
      ("one shared value", ad(shared), Seq(Seq(2L, 1L, 1L, null))),
      ("all null or NaN", ad(nullsNaN), Seq(Seq(0L, 0L, 0L, null))))
  }

  test("energyDistance: one row, counts reported, NULL energy on an " +
    "empty side") {
    def en(df: DataFrame) = () =>
      Eval.energyDistance(df, col("v"), col("a"))
    expectAll(
      ("empty", en(empty), Seq(Seq(0L, 0L, null))),
      ("one side", en(oneSide), Seq(Seq(2L, 0L, null))),
      ("one shared value", en(shared), Seq(Seq(2L, 1L, 0.0))),
      ("all null", en(nulls), Seq(Seq(0L, 0L, null))))
  }

  test("driftPanel: five rows, each stat NULL where undefined") {
    def panel(df: DataFrame) = () =>
      Eval.driftPanel(df, col("v"), col("a"))
    def rows(ad: Any, en: Any, ks: Any, mw: Any, w1: Any) =
      Seq(Seq("ad_micro", ad), Seq("energy_micro", en),
        Seq("ks_micro", ks), Seq("mw_z", mw), Seq("w1_micro", w1))
    val allNull = rows(null, null, null, null, null)
    expectAll(
      ("empty", panel(empty), allNull),
      ("one side", panel(oneSide), allNull),
      ("one shared value", panel(shared), rows(null, 0.0, 0.0, null, 0.0)),
      ("all null", panel(nulls), allNull))
  }

  test("AgainstReference forms: empty batch, empty reference, both") {
    val batch = oneSide.select("v")
    val none = empty.select("v")
    def refOf(df: DataFrame, v: org.apache.spark.sql.Column) =
      Eval.referenceValueCounts(df, v)
    def ks(b: DataFrame, r: DataFrame) = () =>
      Eval.ksAgainstReference(b, refOf(r, col("v")), col("v"))
    def w1(b: DataFrame, r: DataFrame) = () =>
      Eval.w1AgainstReference(b, refOf(r, col("v").cast("long")),
        col("v"))
    def mw(b: DataFrame, r: DataFrame) = () =>
      Eval.mwAgainstReference(b, refOf(r, col("v")), col("v"))
    expectAll(
      ("ks empty batch", ks(none, batch), Seq(Seq(null, 0L, 2L, 2L))),
      ("ks empty reference", ks(batch, none), Seq(Seq(null, 2L, 0L, 2L))),
      ("ks both empty", ks(none, none), Seq(Seq(null, 0L, 0L, 0L))),
      ("w1 empty batch", w1(none, batch), Seq(Seq(null, 0L, 2L, 2L))),
      ("w1 empty reference", w1(batch, none), Seq(Seq(null, 2L, 0L, 2L))),
      ("w1 both empty", w1(none, none), Seq(Seq(null, 0L, 0L, 0L))),
      ("mw empty batch", mw(none, batch),
        Seq(Seq(0L, 2L, 0L, 0L, null))),
      ("mw empty reference", mw(batch, none),
        Seq(Seq(2L, 0L, 0L, 0L, null))),
      ("mw both empty", mw(none, none), Seq(Seq(0L, 0L, 0L, 0L, null))))
  }
}
