package graft

import graft.ops.RangeJoin
import org.scalatest.funsuite.AnyFunSuite

class RangeJoinSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("bucketed range join equals brute force, incl. bin boundaries") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(31)
    val width = 100L
    // ts values intentionally dense around bin multiples
    val lefts = (1 to 150).map(i =>
      (i.toLong, rnd.nextInt(10).toLong, (rnd.nextInt(20) * 50).toLong))
    val rights = (1 to 150).map(i =>
      (1000L + i, rnd.nextInt(10).toLong, (rnd.nextInt(20) * 50).toLong))
    val l = lefts.toDF("lid", "k", "lts")
    val r = rights.toDF("rid", "k", "rts")
    val got = RangeJoin.withinRange(l, r, Seq("k"), "lts", "rts", width)
      .select("lid", "rid").collect()
      .map(row => (row.getLong(0), row.getLong(1))).toSet
    val want = (for {
      (lid, lk, lts) <- lefts
      (rid, rk, rts) <- rights
      if lk == rk && rts >= lts - width && rts <= lts
    } yield (lid, rid)).toSet
    assert(got === want)
    assert(want.nonEmpty) // the test actually exercised matches
  }

  test("range join plans an equi-join, not a cartesian product") {
    val s = spark
    import s.implicits._
    val l = (1 to 10).map(i => (i.toLong, 1L, i * 10L)).toDF("lid", "k", "lts")
    val r = (1 to 10).map(i => (100L + i, 1L, i * 10L)).toDF("rid", "k", "rts")
    val plan = RangeJoin.withinRange(l, r, Seq("k"), "lts", "rts", 50L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("overlapJoin equals brute force; closed bounds; multi-bin dedup") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(47)
    // intervals up to 3 bins wide, dense around bin multiples
    val lefts = (1 to 80).map { i =>
      val st = (rnd.nextInt(30) * 50).toLong
      (i.toLong, rnd.nextInt(4).toLong, st,
        st + rnd.nextInt(300).toLong)
    }
    val rights = (1 to 80).map { i =>
      val st = (rnd.nextInt(30) * 50).toLong
      (1000L + i, rnd.nextInt(4).toLong, st,
        st + rnd.nextInt(300).toLong)
    }
    val l = lefts.toDF("lid", "k", "ls", "le")
    val r = rights.toDF("rid", "k", "rs", "re")
    val got = RangeJoin.overlapJoin(l, r, Seq("k"), "ls", "le",
        "rs", "re", binWidth = 100L,
        outCols = Seq("lid", "rid")).collect()
      .map(row => (row.getLong(0), row.getLong(1))).toSet
    val want = (for {
      (lid, lk, ls, le) <- lefts
      (rid, rk, rs, re) <- rights
      if lk == rk && ls <= re && rs <= le
    } yield (lid, rid)).toSet
    assert(got === want)
    // each overlapping pair appears ONCE however many bins it shares
    val wide = RangeJoin.overlapJoin(
      Seq((1L, 0L, 350L)).toDF("lid", "ls", "le"),
      Seq((2L, 0L, 350L)).toDF("rid", "rs", "re"),
      Seq.empty, "ls", "le", "rs", "re", 100L, Seq("lid", "rid"))
    assert(wide.count() === 1L)
    // closed bounds: touching endpoints overlap
    val touch = RangeJoin.overlapJoin(
      Seq((1L, 0L, 100L)).toDF("lid", "ls", "le"),
      Seq((2L, 100L, 200L)).toDF("rid", "rs", "re"),
      Seq.empty, "ls", "le", "rs", "re", 100L, Seq("lid", "rid"))
    assert(touch.count() === 1L)
  }

  test("overlapJoin guards: inverted interval and giant span fail in-plan") {
    val s = spark
    import s.implicits._
    val ok = Seq((1L, 0L, 10L)).toDF("rid", "rs", "re")
    val inverted = Seq((1L, 50L, 10L)).toDF("lid", "ls", "le")
    val e1 = intercept[Exception] {
      RangeJoin.overlapJoin(inverted, ok, Seq.empty, "ls", "le",
        "rs", "re", 100L, Seq("lid", "rid")).count()
    }
    assert(e1.getMessage.contains("inverted"), e1.getMessage)
    val giant = Seq((1L, 0L, 10000000L)).toDF("lid", "ls", "le")
    val e2 = intercept[Exception] {
      RangeJoin.overlapJoin(giant, ok, Seq.empty, "ls", "le",
        "rs", "re", 100L, Seq("lid", "rid"),
        maxBinsPerRow = 16).count()
    }
    assert(e2.getMessage.contains("bins"), e2.getMessage)
    // and the plan is an equi-join, never a cartesian
    val l = (1 to 10).map(i => (i.toLong, i * 10L, i * 10L + 5))
      .toDF("lid", "ls", "le")
    val r2 = (1 to 10).map(i => (100L + i, i * 10L, i * 10L + 5))
      .toDF("rid", "rs", "re")
    val plan = RangeJoin.overlapJoin(l, r2, Seq.empty, "ls", "le",
        "rs", "re", 50L, Seq("lid", "rid"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }
}
