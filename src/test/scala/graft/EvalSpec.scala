package graft

import graft.pipeline.Eval
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class EvalSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("rocAuc: golden cases — perfect, inverted, random, tied") {
    val s = spark
    import s.implicits._
    def auc(rows: Seq[(Double, Int)]): (Double, Long, Long) = {
      val r = Eval.rocAuc(rows.toDF("s", "y"), col("s"), col("y"))
        .head()
      (r.getDouble(0), r.getLong(1), r.getLong(2))
    }
    // perfect separation
    assert(auc(Seq((0.1, 0), (0.2, 0), (0.8, 1), (0.9, 1))) ===
      ((1.0, 2L, 2L)))
    // perfectly inverted
    assert(auc(Seq((0.9, 0), (0.8, 0), (0.1, 1), (0.2, 1)))._1 === 0.0)
    // all scores tied: midrank AUC is exactly 0.5
    assert(auc(Seq((0.5, 0), (0.5, 1), (0.5, 0), (0.5, 1)))._1 === 0.5)
    // one inversion among 2x2 (pos 0.15 < neg 0.2): U = 3 of 4 -> 0.75
    assert(auc(Seq((0.1, 0), (0.15, 1), (0.2, 0), (0.4, 1)))._1 === 0.75)
  }

  test("rocAuc returns NULL auc (never NaN) on single-class labels") {
    val s = spark
    import s.implicits._
    def run(rows: Seq[(Double, Int)]) =
      Eval.rocAuc(rows.toDF("s", "y"), col("s"), col("y")).head()
    val allPos = run(Seq((0.1, 1), (0.4, 1), (0.9, 1)))
    assert(allPos.isNullAt(0), s"expected null auc: $allPos")
    assert(allPos.getLong(1) === 3L && allPos.getLong(2) === 0L)
    val allNeg = run(Seq((0.1, 0), (0.4, 0)))
    assert(allNeg.isNullAt(0), s"expected null auc: $allNeg")
    assert(allNeg.getLong(1) === 0L && allNeg.getLong(2) === 2L)
  }

  test("rocAuc matches a brute-force pairwise count on random data") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    // discrete scores force tie handling; labels correlate weakly
    val rows = (0 until 400).map { _ =>
      val sc = rnd.nextInt(20).toDouble / 10.0
      val y = if (rnd.nextDouble() < 0.3 + sc / 4) 1 else 0
      (sc, y)
    }
    val got = Eval.rocAuc(rows.toDF("s", "y"), col("s"), col("y")).head()
    val pos = rows.filter(_._2 == 1).map(_._1)
    val neg = rows.filter(_._2 == 0).map(_._1)
    val wins = (for (p <- pos; n <- neg)
      yield if (p > n) 1.0 else if (p == n) 0.5 else 0.0).sum
    val want = BigDecimal(wins / (pos.size.toDouble * neg.size))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.getDouble(0) === want)
    assert(got.getLong(1) === pos.size.toLong)
    assert(got.getLong(2) === neg.size.toLong)
  }

  test("psiMicro: identical distributions score 0; drift scores positive") {
    val s = spark
    import s.implicits._
    val same = (0 until 100).map(i => (i % 5, if (i % 2 == 0) "a" else "b"))
      .toDF("bucket", "seg")
    val r0 = Eval.psiMicro(same, col("bucket"), col("seg"), "a", "b")
      .head()
    assert(r0.getLong(0) === 0L)
    assert(r0.getLong(1) === 50L && r0.getLong(2) === 50L &&
      r0.getLong(3) === 5L)
    // drifted: segment b concentrates in bucket 0
    val drift = ((0 until 50).map(i => (i % 5, "a")) ++
      (0 until 50).map(_ => (0, "b"))).toDF("bucket", "seg")
    val r1 = Eval.psiMicro(drift, col("bucket"), col("seg"), "a", "b")
      .head()
    assert(r1.getLong(0) > 1000000L, s"expected strong drift: $r1")
  }

  test("psiDriftStream scores each micro-batch against the pinned reference") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = s.sqlContext
    // reference: uniform over buckets 0..4
    val reference = (0 until 100).map(i => i % 5).toDF("bucket")
    val mem = MemoryStream[Int]
    val scores = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    val q = Eval.psiDriftStream(mem.toDF().toDF("bucket"), reference,
        col("bucket")) { psi =>
      scores ++= psi.collect().map(r =>
        (r.getLong(4), r.getLong(0), r.getLong(3)))
    }
    try {
      // batch 0: same uniform shape -> near-zero PSI
      mem.addData((0 until 50).map(_ % 5): _*)
      q.processAllAvailable()
      // batch 1: everything in one bucket -> strong drift
      mem.addData(Seq.fill(50)(0): _*)
      q.processAllAvailable()
      assert(scores.length === 2)
      val byBatch = scores.map(x => x._1 -> (x._2, x._3)).toMap
      assert(math.abs(byBatch(0L)._1) < 20000L,
        s"uniform batch should score ~0: ${byBatch(0L)}")
      assert(byBatch(1L)._1 > 1000000L,
        s"concentrated batch should drift hard: ${byBatch(1L)}")
      assert(byBatch(0L)._2 === 5L && byBatch(1L)._2 === 5L)
    } finally q.stop()
  }

  test("ksAgainstReference equals the two-segment form on one split") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (0 until 400).map { _ =>
      val seg = if (rnd.nextBoolean()) "a" else "b"
      val v = if (seg == "a") rnd.nextInt(20).toLong
        else (rnd.nextInt(20) + 5).toLong
      (v, seg)
    }
    val df = rows.toDF("v", "g")
    val direct = Eval.ksMicro(df, col("v"), col("g"), "a", "b").head()
    val viaRef = Eval.ksAgainstReference(
      df.filter(col("g") === "a"),
      Eval.referenceValueCounts(df.filter(col("g") === "b"), col("v")),
      col("v")).head()
    assert(direct.getLong(0) === viaRef.getLong(0))
    assert(direct.getLong(1) === viaRef.getLong(1))
    assert(direct.getLong(2) === viaRef.getLong(2))
    assert(direct.getLong(3) === viaRef.getLong(3))
  }

  test("ksDriftStream scores each micro-batch against the reference") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = s.sqlContext
    // reference: uniform over 0..9
    val reference = (0 until 200).map(i => i % 10).toDF("v")
    val mem = MemoryStream[Int]
    val scores = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val q = Eval.ksDriftStream(mem.toDF().toDF("v"), reference,
        col("v")) { ks =>
      scores ++= ks.collect().map(r => (r.getLong(4), r.getLong(0)))
    }
    try {
      // batch 0: same uniform shape -> KS ~ 0
      mem.addData((0 until 50).map(_ % 10): _*)
      q.processAllAvailable()
      // batch 1: all mass at the far end -> KS ~ 0.9
      mem.addData(Seq.fill(50)(9): _*)
      q.processAllAvailable()
      assert(scores.length === 2)
      val byBatch = scores.toMap
      assert(byBatch(0L) === 0L,
        s"identical shape must give exactly 0: $byBatch")
      assert(byBatch(1L) === 900000L,
        s"point mass at 9 vs uniform 0..9: D = 0.9: $byBatch")
    } finally q.stop()
  }

  test("quantileDriftStream resolves each micro-batch's exact median") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = s.sqlContext
    val mem = MemoryStream[Double]
    val medians = scala.collection.mutable.ArrayBuffer[(Long, Double)]()
    // tight threshold so the narrowing loop genuinely runs its
    // driver-coordinated rounds INSIDE foreachBatch
    val q = Eval.quantileDriftStream(mem.toDF().toDF("v"), col("v"),
        0.5, buckets = 4, threshold = 8) { m =>
      medians ++= m.collect().map(r => (r.getLong(3), r.getDouble(0)))
    }
    try {
      val b0 = (1 to 101).map(_.toDouble)
      mem.addData(b0: _*)
      q.processAllAvailable()
      val b1 = (1 to 101).map(i => 1000.0 + i) // location shifted
      mem.addData(b1: _*)
      q.processAllAvailable()
      assert(medians.toMap === Map(0L -> 51.0, 1L -> 1051.0))
    } finally q.stop()
  }

  test("psiMicro matches a brute-force smoothed reference") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(13)
    val rows = (0 until 300).map { _ =>
      val seg = if (rnd.nextBoolean()) "x" else "y"
      val b = if (seg == "x") rnd.nextInt(6) else rnd.nextInt(8)
      (b, seg)
    } :+ ((9, "z")) // foreign segment must be ignored
    val got = Eval.psiMicro(rows.toDF("bucket", "seg"), col("bucket"),
      col("seg"), "x", "y").head()
    val xs = rows.filter(_._2 == "x").map(_._1)
    val ys = rows.filter(_._2 == "y").map(_._1)
    val buckets = (xs ++ ys).distinct.sorted
    val bCnt = buckets.size
    val want = buckets.map { b =>
      val p = (xs.count(_ == b) + 1).toDouble / (xs.size + bCnt)
      val q = (ys.count(_ == b) + 1).toDouble / (ys.size + bCnt)
      BigDecimal(1e6 * (p - q) * math.log(p / q))
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }.sum
    assert(got.getLong(0) === want)
    assert(got.getLong(3) === bCnt.toLong)
  }

  test("prAuc: golden cases — perfect, inverted, ties, degenerate") {
    val s = spark
    import s.implicits._
    def ap(rows: Seq[(Double, Int)]): (Option[Long], Long, Long) = {
      val r = Eval.prAuc(rows.toDF("s", "y"), col("s"), col("y")).head()
      (if (r.isNullAt(0)) None else Some(r.getLong(0)),
        r.getLong(1), r.getLong(2))
    }
    // perfect ranking: every positive above every negative -> AP 1
    assert(ap(Seq((0.9, 1), (0.8, 1), (0.2, 0), (0.1, 0))) ===
      ((Some(1000000L), 2L, 2L)))
    // fully inverted 1 pos under 2 neg: the positive is found at
    // depth 3 -> AP = 1/3
    assert(ap(Seq((0.9, 0), (0.8, 0), (0.1, 1)))._1 ===
      Some(333333L))
    // one tie block holding 1 pos + 1 neg at the top: block term =
    // (1/1)·(1/2) = 0.5
    assert(ap(Seq((0.5, 1), (0.5, 0)))._1 === Some(500000L))
    // degenerate: no positives -> NULL (the rocAuc contract)
    assert(ap(Seq((0.5, 0), (0.2, 0))) === ((None, 0L, 2L)))
  }

  test("prAuc matches a brute-force threshold sweep on random tied data") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (0 until 300).map { _ =>
      val sc = rnd.nextInt(15).toDouble / 10.0
      (sc, if (rnd.nextDouble() < 0.2 + sc / 3) 1 else 0)
    }
    val got = Eval.prAuc(rows.toDF("s", "y"), col("s"), col("y"))
      .head().getLong(0)
    val nPos = rows.count(_._2 == 1).toLong
    val byScore = rows.groupBy(_._1).toSeq.sortBy(-_._1)
    var cumPos = 0L; var cumN = 0L; var tsum = 0L
    byScore.foreach { case (_, grp) =>
      val pos = grp.count(_._2 == 1).toLong
      cumPos += pos; cumN += grp.size
      if (pos > 0)
        tsum += BigDecimal(1e6 * pos * cumPos / cumN.toDouble)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }
    val want = BigDecimal(tsum.toDouble / nPos)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    assert(got === want)
  }

  test("calibrationErrorMicro: hand-computed bins, clamping, perfect calibration") {
    val s = spark
    import s.implicits._
    // bin 0 ([0,0.1)): two preds 0.05, one positive -> |0.1e6-1e6|...
    // computed by the reduced integer form below
    val rows = Seq((0.05, 0), (0.05, 1), (0.95, 1), (1.5, 1), (-0.2, 0))
    val r = Eval.calibrationErrorMicro(rows.toDF("p", "y"), col("p"),
      col("y"), bins = 10).head()
    // clamped rows: 1.5 -> bin 9 (with 0.95), -0.2 -> bin 0
    // bin 0: pm = 50000+50000+(-200000) = -100000, pos = 1
    //   -> |−100000 − 1000000| = 1100000
    // bin 9: pm = 950000+1500000 = 2450000, pos = 2
    //   -> |2450000 − 2000000| = 450000
    // ece = round((1100000+450000)/5) = 310000
    assert(r.getLong(0) === 310000L)
    assert(r.getLong(1) === 5L && r.getLong(2) === 2L)
    // perfectly calibrated bins: pred mass equals label mass per bin
    val cal = Seq((0.25, 0), (0.25, 0), (0.25, 1), (0.25, 0),
      (0.75, 1), (0.75, 1), (0.75, 1), (0.75, 0))
    val rc = Eval.calibrationErrorMicro(cal.toDF("p", "y"), col("p"),
      col("y"), bins = 4).head()
    assert(rc.getLong(0) === 0L)
  }

  test("ksMicro: identical, separated, shifted, degenerate") {
    val s = spark
    import s.implicits._
    def ks(rows: Seq[(Long, String)]) =
      Eval.ksMicro(rows.toDF("v", "g"), col("v"), col("g"), "a", "b")
        .head()
    // identical distributions: D = 0
    val same = ks(Seq((1L, "a"), (2L, "a"), (1L, "b"), (2L, "b")))
    assert(same.getLong(0) === 0L)
    assert(same.getLong(1) === 2L && same.getLong(2) === 2L)
    // fully separated supports: D = 1
    val sep = ks(Seq((1L, "a"), (2L, "a"), (10L, "b"), (11L, "b")))
    assert(sep.getLong(0) === 1000000L)
    // half-shifted: a={1,2}, b={2,3} -> max gap at v=1: |1/2-0| = .5
    val shift = ks(Seq((1L, "a"), (2L, "a"), (2L, "b"), (3L, "b")))
    assert(shift.getLong(0) === 500000L)
    // single-class input: NULL statistic, counts still reported
    val deg = ks(Seq((1L, "a"), (2L, "a")))
    assert(deg.isNullAt(0), s"expected null ks: $deg")
    assert(deg.getLong(1) === 2L && deg.getLong(2) === 0L)
  }

  test("ndcgMrrMicro: perfect, inverted-grade, miss, no-relevant") {
    val s = spark
    import s.implicits._
    val qrels = Seq((1L, 3L), (2L, 2L), (3L, 1L), (4L, 0L))
      .toDF("id", "rel")
    def run(ids: Seq[Long], k: Int = 3) =
      Eval.ndcgMrrMicro(
        ids.zipWithIndex.map { case (id, i) => (id, (i + 1).toLong) }
          .toDF("id", "rank"), qrels, k).head()
    // ideal order: NDCG = 1, MRR = 1, recall = 3/3
    val perfect = run(Seq(1L, 2L, 3L))
    assert(perfect.getLong(0) === 1000000L)
    assert(perfect.getLong(1) === 1000000L)
    assert(perfect.getLong(2) === 1000000L)
    assert(perfect.getLong(3) === 3L && perfect.getLong(4) === 3L)
    // worst relevant-only order (3,2,1 reversed) is still < 1
    val worse = run(Seq(3L, 2L, 1L))
    assert(worse.getLong(0) < 1000000L && worse.getLong(0) > 0L)
    assert(worse.getLong(1) === 1000000L) // first hit still rank 1
    // first hit at rank 2 -> MRR = 1/2; unjudged id 9 counts rel 0
    val late = run(Seq(9L, 1L, 2L))
    assert(late.getLong(1) === 500000L)
    assert(late.getLong(2) === 666666L) // 2 of 3 relevant found
    // run touches no relevant docs: ndcg 0, mrr 0, recall 0
    val miss = run(Seq(9L, 4L, 8L))
    assert(miss.getLong(0) === 0L && miss.getLong(1) === 0L &&
      miss.getLong(2) === 0L)
    // empty qrels: NULL ndcg/recall (undefined), mrr 0
    val none = Eval.ndcgMrrMicro(
      Seq((1L, 1L)).toDF("id", "rank"),
      Seq((1L, 0L)).toDF("id", "rel"), 3).head()
    assert(none.isNullAt(0) && none.isNullAt(2))
    assert(none.getLong(1) === 0L && none.getLong(3) === 0L)
  }

  test("kendallTauBMicro: golden agreements, ties, degenerate") {
    val s = spark
    import s.implicits._
    def tau(a: Seq[(Long, Double)], b: Seq[(Long, Double)]) =
      Eval.kendallTauBMicro(a.toDF("id", "score"), b.toDF("id", "score"))
        .head()
    val ids = Seq(1L, 2L, 3L, 4L)
    val up = ids.map(i => (i, i.toDouble))
    val down = ids.map(i => (i, -i.toDouble))
    // identical order: tau = 1
    val same = tau(up, up)
    assert(same.getLong(0) === 1000000L && same.getLong(1) === 4L)
    assert(same.getLong(2) === 6L && same.getLong(3) === 0L)
    // exactly reversed: tau = -1
    assert(tau(up, down).getLong(0) === -1000000L)
    // one swap among 4: nc=5, nd=1 -> 4/6
    val oneSwap = tau(up, Seq((1L, 1.0), (2L, 3.0), (3L, 2.0), (4L, 4.0)))
    assert(oneSwap.getLong(0) === 666667L)
    // ties in b: pair (2,3) tied -> excluded from b's effective pairs
    val tied = tau(up, Seq((1L, 1.0), (2L, 2.0), (3L, 2.0), (4L, 3.0)))
    // nc=5, nd=0, ta=0, tb=1: 5 / sqrt(6*5) = 0.912871
    assert(tied.getLong(0) === 912871L)
    // all-tied b: undefined -> NULL, counts reported
    val deg = tau(up, ids.map(i => (i, 7.0)))
    assert(deg.isNullAt(0) && deg.getLong(1) === 4L)
    // id mismatch: inner join keeps the shared subset only
    val sub = tau(up, Seq((2L, 1.0), (3L, 2.0), (9L, 9.0)))
    assert(sub.getLong(1) === 2L && sub.getLong(0) === 1000000L)
    // < 2 matched items: pair frame is EMPTY — tau NULL, counts ZERO
    // (not NULL, and not an empty result: the degenerate contract)
    Seq(up.take(1), Seq.empty[(Long, Double)]).foreach { small =>
      val one = tau(small, small)
      assert(one != null, s"n=${small.length}: row must exist")
      assert(one.isNullAt(0), s"n=${small.length}: tau NULL")
      assert(one.getLong(1) === small.length.toLong)
      assert(one.getLong(2) === 0L && one.getLong(3) === 0L,
        s"n=${small.length}: counts reported as 0")
    }
  }

  test("cohensKappa: golden agreement values and the degenerate contract") {
    val s = spark
    import s.implicits._
    def kappa(rows: Seq[(java.lang.Boolean, java.lang.Boolean)]) =
      Eval.cohensKappa(rows.toDF("a", "b"), col("a"), col("b")).head()
    val T = java.lang.Boolean.TRUE
    val F = java.lang.Boolean.FALSE
    // perfect agreement with both classes present: kappa = 1
    val perfect = kappa(Seq((T, T), (T, T), (F, F), (F, F)))
    assert(perfect.getDouble(5) === 1.0)
    assert(perfect.getLong(0) === 4L && perfect.getLong(1) === 2L &&
      perfect.getLong(4) === 2L)
    // complete disagreement with symmetric marginals: kappa = -1
    assert(kappa(Seq((T, F), (T, F), (F, T), (F, T))).getDouble(5)
      === -1.0)
    // exact independence (one row per cell): chance-level, kappa = 0
    assert(kappa(Seq((T, T), (T, F), (F, T), (F, F))).getDouble(5)
      === 0.0)
    // textbook table 20/5/10/15: pe = 1250, kappa = 500/1250 = 0.4
    val text = kappa(
      Seq.fill(20)((T, T)) ++ Seq.fill(5)((T, F)) ++
        Seq.fill(10)((F, T)) ++ Seq.fill(15)((F, F)))
    assert(text.getDouble(5) === 0.4)
    assert(text.getLong(2) === 5L && text.getLong(3) === 10L)
    // constant raters: n² == pe — kappa undefined -> NULL, table kept
    val const = kappa(Seq((T, T), (T, T), (T, T)))
    assert(const.isNullAt(5) && const.getLong(1) === 3L)
    // a NULL rater abstains: the row is excluded from the table
    val withNull = kappa(Seq((T, T), (null, T), (F, null), (F, F)))
    assert(withNull.getLong(0) === 2L && withNull.getDouble(5) === 1.0)
  }

  test("kmvDistinctStream: running estimates equal the one-shot sketch") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = s.sqlContext
    import graft.functions.KMinValues
    val k = 8
    val mem = MemoryStream[Long]
    val seen = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
    val q = Eval.kmvDistinctStream(mem.toDF().toDF("h"), col("h"), k) {
      m => seen ++= m.collect()
        .map(r => (r.getLong(2), r.getLong(0), r.getDouble(1)))
    }
    def oneShot(hs: Seq[Long]): (Long, Double) = {
      val sk = hs.distinct.sorted.take(k)
      (sk.length.toLong,
        BigDecimal(KMinValues.estimateOf(sk, k))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    try {
      // batch 0: below k — the sketch IS the exact count
      val b0 = Seq(1L << 55, 1L << 56, 1L << 57, 1L << 55)
      mem.addData(b0: _*)
      q.processAllAvailable()
      // batch 1: overlaps batch 0 (set semantics) and crosses k
      val b1 = (1L to 12L).map(i => i << 52) :+ (1L << 55)
      mem.addData(b1: _*)
      q.processAllAvailable()
      val exp0 = oneShot(b0)
      val exp1 = oneShot(b0 ++ b1)
      assert(seen.toList === List(
        (0L, exp0._1, exp0._2), (1L, exp1._1, exp1._2)))
      assert(exp0._2 === 3.0, "below-k sketch reports the exact count")
    } finally q.stop()
  }

  test("kllQuantileStream: bounded state, exact below k, bound above") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = s.sqlContext
    val k = 64
    val mem = MemoryStream[Long]
    val seen = scala.collection.mutable.ArrayBuffer[
      (Long, Long, Long, Long, Long)]()
    val q = Eval.kllQuantileStream(mem.toDF().toDF("v"), col("v"), k,
      Seq(500L)) { m =>
      seen ++= m.collect().map(r => (r.getLong(4), r.getLong(0),
        r.getLong(1), r.getLong(2), r.getLong(3)))
    }
    try {
      // batch 0: n < k — no compaction possible, the median is exact
      mem.addData((1L to 50L): _*)
      q.processAllAvailable()
      // batch 1: pushes the standing sketch across k
      mem.addData((51L to 300L): _*)
      q.processAllAvailable()
      val Seq(b0, b1) = seen.toList
      assert(b0 === ((0L, 500L, 25L, 50L, 50L)), b0.toString)
      // weight conservation across the merge; O(k) retention
      assert(b1._4 === 300L && b1._5 <= 4L * k, b1.toString)
      // running median of 1..300 within the 8n/k audit bound
      assert(math.abs(b1._3 - 150L) <= 8L * 300L / k, b1.toString)
    } finally q.stop()
  }

  test("two-sample cap: ksMicro past MaxWindowValues raises at " +
    "construction, before any celled job runs") {
    val s = spark
    val group = "two-sample-cap"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p =>
            p.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    // jobs one construction starts: the one totals fetch, nothing after
    def constructionJobs(rows: Long)(build: org.apache.spark.sql.DataFrame
        => Any): Int = {
      val df = s.range(rows)
        .withColumn("g", when(col("id") % 2 === 0, "a").otherwise("b"))
      org.apache.spark.sql.GraftBridge.drainListeners(s)
      val before = jobs.get
      s.sparkContext.setJobGroup(group, group)
      try build(df) finally s.sparkContext.clearJobGroup()
      org.apache.spark.sql.GraftBridge.drainListeners(s)
      jobs.get - before
    }
    s.sparkContext.addSparkListener(listener)
    try {
      val small = constructionJobs(10L) { df =>
        Eval.ksMicro(df, col("id"), col("g"), "a", "b") }
      val over = Eval.MaxWindowValues + 1
      var ex: IllegalArgumentException = null
      val capped = constructionJobs(over) { df =>
        ex = intercept[IllegalArgumentException] {
          Eval.ksMicro(df, col("id"), col("g"), "a", "b") } }
      assert(ex.getMessage.contains(s"ksMicro: value cardinality $over"),
        ex.getMessage)
      assert(small >= 1 && capped === small,
        s"jobs at construction: $capped over the cap, $small below it")
    } finally s.sparkContext.removeSparkListener(listener)
  }

  test("one two-sample engine: no per-statistic pipeline, one cap, " +
    "celledCums only behind the engine and the AUC operators") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val eval = Files.readString(
      Paths.get("src/main/scala/graft/pipeline/Eval.scala"))
    val gone = Seq("ksFromCounts", "ksFinish", "w1FromCounts",
      "w1Finish", "mwFromValueCounts", "adFromCounts", "adFinish",
      "energyFromCounts", "energyFinish", "guardedOneKey")
    gone.foreach(n => assert(
      s"(def|val)\\s+$n\\b".r.findFirstIn(eval).isEmpty, s"$n defined"))
    val caps = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .map(p => "require\\(nVals <= MaxWindowValues".r
        .findAllIn(Files.readString(p)).size).sum
    assert(caps === 1, "the two-sample cap require")
    // the enclosing member def of every celledCums call
    val defs = "(?m)^  (?:private(?:\\[\\w+\\])? )?def (\\w+)".r
      .findAllMatchIn(eval).map(m => (m.start, m.group(1))).toSeq
    val callers = "celledCums\\(".r.findAllMatchIn(eval)
      .map(m => defs.takeWhile(_._1 < m.start).last._2).toSet - "celledCums"
    assert(callers ===
      Set("twoSample", "rocAuc", "prAuc", "delongAucCompare"))
  }

  test("kllGroupedQuantileStream: one bounded sketch per domain, " +
    "exact below k, per-domain folds accumulate") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = s.sqlContext
    val k = 64
    val mem = MemoryStream[(String, Long)]
    val seen = scala.collection.mutable.ArrayBuffer[
      (Long, String, Long, Long)]()
    val q = Eval.kllGroupedQuantileStream(
      mem.toDF().toDF("src", "v"), col("src"), col("v"), k, 500L) {
      m => seen ++= m.collect().map(r => (r.getAs[Long]("batch_id"),
        r.getAs[String]("g"), r.getAs[Long]("est"),
        r.getAs[Long]("n_seen")))
    }
    try {
      // batch 0: two domains, both below k — medians are exact
      mem.addData(("a", 1L), ("a", 2L), ("a", 3L), ("b", 10L))
      q.processAllAvailable()
      // batch 1: domain a grows, domain c appears, b is absent but
      // its standing sketch still reports
      mem.addData(("a", 4L), ("a", 5L), ("c", 7L))
      q.processAllAvailable()
      val b0 = seen.filter(_._1 == 0L).map(t => t._2 -> (t._3, t._4))
        .toMap
      val b1 = seen.filter(_._1 == 1L).map(t => t._2 -> (t._3, t._4))
        .toMap
      assert(b0 === Map("a" -> ((2L, 3L)), "b" -> ((10L, 1L))),
        seen.toString)
      assert(b1 === Map("a" -> ((3L, 5L)), "b" -> ((10L, 1L)),
        "c" -> ((7L, 1L))), seen.toString)
    } finally q.stop()
  }

  test("KMV sketch union is associative and commutative (the q66 pin)") {
    import graft.functions.KMinValues
    val rnd = new scala.util.Random(88)
    val k = 16
    def sketchOf(hs: Seq[Long]): Seq[Long] = hs.distinct.sorted.take(k)
    (1 to 5).foreach { _ =>
      val parts = Seq.fill(4)(
        Seq.fill(rnd.nextInt(40))(rnd.nextLong().abs % (1L << 60)))
      val oneShot = sketchOf(parts.flatten)
      val leftFold = parts.map(sketchOf)
        .foldLeft(Seq.empty[Long])(KMinValues.mergeSketches(_, _, k))
      val shuffled = scala.util.Random.shuffle(parts.map(sketchOf))
        .foldLeft(Seq.empty[Long])(KMinValues.mergeSketches(_, _, k))
      assert(leftFold === oneShot && shuffled === oneShot)
    }
  }

  test("wasserstein1Micro: hand-computed shifts, ties, degenerate contracts") {
    val s = spark
    import s.implicits._
    def w1(rows: Seq[(Long, String)]) =
      Eval.wasserstein1Micro(rows.toDF("v", "seg"), col("v"),
        col("seg"), "a", "b").head()
    // pure location shift by +3: W1 = 3 exactly (micro = 3e6)
    val shift = w1(Seq(1L, 2L, 4L).map(v => (v, "a")) ++
      Seq(4L, 5L, 7L).map(v => (v, "b")))
    assert(shift.getLong(0) === 3000000L)
    assert(shift.getLong(1) === 3L && shift.getLong(2) === 3L)
    // identical segments: 0 (and ties collapse into shared support)
    assert(w1(Seq((1L, "a"), (1L, "b"), (5L, "a"), (5L, "b")))
      .getLong(0) === 0L)
    // hand case with unequal sizes: A={0,10}, B={10}:
    // interval [0,10): |1·1 − 0·2|·10 = 10 → micro = 1e7/(2·1) = 5e6
    assert(w1(Seq((0L, "a"), (10L, "a"), (10L, "b")))
      .getLong(0) === 5000000L)
    // single support value: zero intervals, still one row, W1 = 0
    assert(w1(Seq((7L, "a"), (7L, "b"))).getLong(0) === 0L)
    // empty segment: NULL distance, counts reported
    val one = w1(Seq((1L, "a"), (2L, "a")))
    assert(one.isNullAt(0) && one.getLong(1) === 2L &&
      one.getLong(2) === 0L)
  }

  test("w1AgainstReference equals the two-segment form; stream scores each batch") {
    val s = spark
    import s.implicits._
    val as = Seq(1L, 2L, 4L, 9L, 9L)
    val bs = Seq(4L, 5L, 7L, 7L)
    val twoSeg = Eval.wasserstein1Micro(
      (as.map((_, "a")) ++ bs.map((_, "b"))).toDF("v", "seg"),
      col("v"), col("seg"), "a", "b").head()
    val refC = Eval.referenceValueCounts(
      bs.toDF("v"), col("v").cast("long"))
    val viaRef = Eval.w1AgainstReference(
      as.toDF("v"), refC, col("v")).head()
    assert(viaRef.getLong(0) === twoSeg.getLong(0) &&
      viaRef.getLong(1) === twoSeg.getLong(1) &&
      viaRef.getLong(2) === twoSeg.getLong(2) &&
      viaRef.getLong(3) === twoSeg.getLong(3))
    // streaming: two batches, the second location-shifted by +10
    // against the same pinned reference
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = s.sqlContext
    val mem = MemoryStream[Long]
    val seen = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val q = Eval.w1DriftStream(mem.toDF().toDF("v"),
        bs.toDF("v"), col("v")) { m =>
      seen ++= m.collect().map(r => (r.getLong(4), r.getLong(0)))
    }
    try {
      mem.addData(bs: _*) // identical to the reference: W1 = 0
      q.processAllAvailable()
      mem.addData(bs.map(_ + 10L): _*) // shifted copy: W1 = 10
      q.processAllAvailable()
      assert(seen.toList === List((0L, 0L), (1L, 10000000L)))
    } finally q.stop()
  }

  test("wasserstein1Micro matches a brute-force CDF integral on random data") {
    val rnd = new scala.util.Random(661)
    val s = spark
    import s.implicits._
    (1 to 3).foreach { trial =>
      val as = Seq.fill(40)(rnd.nextInt(20).toLong)
      val bs = Seq.fill(25)(rnd.nextInt(20).toLong + trial)
      val rows = as.map((_, "a")) ++ bs.map((_, "b"))
      val got = Eval.wasserstein1Micro(rows.toDF("v", "seg"),
        col("v"), col("seg"), "a", "b").head().getLong(0)
      // brute force over the merged sorted support
      val support = (as ++ bs).distinct.sorted
      val num = support.zip(support.tail).map { case (v, nv) =>
        val ca = as.count(_ <= v).toLong * bs.length
        val cb = bs.count(_ <= v).toLong * as.length
        (ca - cb).abs * (nv - v)
      }.sum
      val want = 1000000L * num / (as.length.toLong * bs.length)
      assert(got === want, s"trial=$trial")
    }
  }

  /** In-memory DeLong reference: doubled-and-scaled structural
    * components, BigInt co-moments, the operator's exact double op
    * order — results are bit-identical, not just close. */
  private def refDelong(rows: Seq[(Double, Double, Boolean)])
      : (Long, Long, Option[Double], Option[Double], Option[Double],
         Option[Double]) = {
    val pos = rows.filter(_._3)
    val neg = rows.filterNot(_._3)
    val m = pos.size.toLong
    val n = neg.size.toLong
    if (m == 0 || n == 0) return (m, n, None, None, None, None)
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    def w10(s: Double, of: ((Double, Double, Boolean)) => Double) =
      BigInt(2L * neg.count(of(_) < s) + neg.count(of(_) == s))
    def w01(s: Double, of: ((Double, Double, Boolean)) => Double) =
      BigInt(2L * pos.count(of(_) > s) + pos.count(of(_) == s))
    val wa = pos.map(r => w10(r._1, _._1))
    val wb = pos.map(r => w10(r._2, _._2))
    val ua = neg.map(r => w01(r._1, _._1))
    val ub = neg.map(r => w01(r._2, _._2))
    val (sa1, sa2) = (wa.sum, wb.sum)
    val auc1 = sa1.toDouble / (2.0 * m * n)
    val auc2 = sa2.toDouble / (2.0 * m * n)
    val delta = (sa1 - sa2).toDouble / (2.0 * m * n)
    val z: Option[Double] =
      if (m < 2 || n < 2) None
      else {
        val den10 = m.toDouble * (m - 1) * (2.0 * n) * (2.0 * n)
        val den01 = n.toDouble * (n - 1) * (2.0 * m) * (2.0 * m)
        def cm(xs: Seq[BigInt], ys: Seq[BigInt], c: Long,
               den: Double): Double =
          (BigInt(c) * xs.zip(ys).map { case (a, b) => a * b }.sum -
            xs.sum * ys.sum).toDouble / den
        val variance =
          (cm(wa, wa, m, den10) + cm(wb, wb, m, den10) -
            2.0 * cm(wa, wb, m, den10)) / m +
          (cm(ua, ua, n, den01) + cm(ub, ub, n, den01) -
            2.0 * cm(ua, ub, n, den01)) / n
        if (variance > 0) Some(r6(delta / math.sqrt(variance)))
        else None
      }
    (m, n, Some(r6(auc1)), Some(r6(auc2)), Some(r6(delta)), z)
  }

  test("delongAucCompare: goldens, identical-score and single-class contracts") {
    val s = spark
    import s.implicits._
    def run(rows: Seq[(Double, Double, Boolean)]) = {
      val r = Eval.delongAucCompare(rows.toDF("s1", "s2", "y"),
        col("s1"), col("s2"), col("y")).head()
      def opt(i: Int) =
        if (r.isNullAt(i)) None else Some(r.getDouble(i))
      (r.getLong(0), r.getLong(1), opt(2), opt(3), opt(4), opt(5))
    }
    // s1 separates perfectly, s2 is anti-correlated: auc1 = 1,
    // auc2 = 0, z strongly positive
    val sep = Seq((0.9, 0.1, true), (0.8, 0.2, true), (0.2, 0.8, false),
      (0.1, 0.9, false))
    val got = run(sep)
    assert(got._3 === Some(1.0) && got._4 === Some(0.0))
    assert(got._5 === Some(1.0))
    assert(got === refDelong(sep))
    // identical scores: aucs equal, delta 0, zero variance -> z NULL
    val same = Seq((0.9, 0.9, true), (0.5, 0.5, false),
      (0.7, 0.7, true), (0.3, 0.3, false))
    val g2 = run(same)
    assert(g2._3 === g2._4 && g2._5 === Some(0.0) && g2._6 === None)
    // single-class input: NULL aucs and z, counts reported
    assert(run(Seq((0.5, 0.5, true), (0.6, 0.6, true)))
      === ((2L, 0L, None, None, None, None)))
    // m = 1: aucs computable, z undefined
    val oneP = run(Seq((0.9, 0.1, true), (0.5, 0.5, false),
      (0.4, 0.6, false)))
    assert(oneP._3.isDefined && oneP._6 === None)
  }

  test("delongAucCompare matches the reference on random tied data") {
    val rnd = new scala.util.Random(5309)
    val s = spark
    import s.implicits._
    (1 to 3).foreach { trial =>
      // quantized scores (heavy ties) with a planted quality gap
      val rows = (1 to 80).map { _ =>
        val y = rnd.nextBoolean()
        val s1 = (rnd.nextInt(8) + (if (y) 3 else 0)).toDouble
        val s2 = (rnd.nextInt(8) + (if (y) 1 else 0)).toDouble
        (s1, s2, y)
      }
      val got = Eval.delongAucCompare(rows.toDF("s1", "s2", "y"),
        col("s1"), col("s2"), col("y")).head()
      val want = refDelong(rows)
      assert(got.getLong(0) === want._1 && got.getLong(1) === want._2)
      assert(Some(got.getDouble(2)) === want._3, s"auc1 trial=$trial")
      assert(Some(got.getDouble(3)) === want._4, s"auc2 trial=$trial")
      assert(Some(got.getDouble(4)) === want._5, s"delta trial=$trial")
      val gz = if (got.isNullAt(5)) None else Some(got.getDouble(5))
      assert(gz === want._6, s"z trial=$trial")
    }
  }

  /** In-memory Spearman reference: average-tie midranks (doubled to
    * stay integral), exact BigInt co-moments, one final double
    * division — the same arithmetic path as the operator, so results
    * are bit-identical, not just close. */
  private def refSpearman(xs: Seq[Double], ys: Seq[Double])
      : Option[Double] = {
    def r2(vs: Seq[Double]): Map[Double, Long] = {
      val cnt = vs.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val sorted = cnt.keys.toSeq.sorted
      val cum = sorted.scanLeft(0L)((a, v) => a + cnt(v))
      sorted.zip(cum).map { case (v, before) =>
        v -> (2 * before + cnt(v) + 1)
      }.toMap
    }
    val (rx, ry) = (r2(xs), r2(ys))
    val n = BigInt(xs.length)
    def bi(l: Long) = BigInt(l)
    val sx = xs.map(v => bi(rx(v))).sum
    val sy = ys.map(v => bi(ry(v))).sum
    val sxy = xs.zip(ys).map { case (a, b) => bi(rx(a)) * bi(ry(b)) }.sum
    val sxx = xs.map(v => bi(rx(v)) * bi(rx(v))).sum
    val syy = ys.map(v => bi(ry(v)) * bi(ry(v))).sum
    val den = math.sqrt((n * sxx - sx * sx).toDouble *
      (n * syy - sy * sy).toDouble)
    if (den == 0.0) None
    else Some(BigDecimal((n * sxy - sx * sy).toDouble / den)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("spearmanRho: golden values, ties, NULLs, degenerate contract") {
    val s = spark
    import s.implicits._
    def rho(rows: Seq[(java.lang.Double, java.lang.Double)]) =
      Eval.spearmanRho(rows.toDF("x", "y"), col("x"), col("y")).head()
    def d(v: Double) = java.lang.Double.valueOf(v)
    // strictly monotone (any shape): rho = 1; reversed: -1
    val inc = Seq(d(1.0) -> d(10.0), d(2.0) -> d(400.0),
      d(3.0) -> d(401.0), d(4.0) -> d(1e9))
    assert(rho(inc).getDouble(1) === 1.0)
    assert(rho(inc.map { case (a, b) => (a, d(-b)) }).getDouble(1)
      === -1.0)
    // tie case against the bit-identical reference
    val xs = Seq(1.0, 2.0, 2.0, 3.0, 3.0, 3.0, 4.0)
    val ys = Seq(2.0, 1.0, 5.0, 5.0, 3.0, 4.0, 4.0)
    val got = rho(xs.zip(ys).map { case (a, b) => (d(a), d(b)) })
    assert(got.getLong(0) === 7L)
    assert(got.getDouble(1) === refSpearman(xs, ys).get)
    // constant column: zero rank variance -> NULL rho, n reported
    val const = rho(Seq(d(5.0) -> d(1.0), d(5.0) -> d(2.0),
      d(5.0) -> d(3.0)))
    assert(const.getLong(0) === 3L && const.isNullAt(1))
    // NULL / NaN rows are pairwise-excluded
    val withBad = rho(Seq(d(1.0) -> d(1.0), (null, d(9.0)),
      d(Double.NaN) -> d(2.0), d(2.0) -> d(2.0), d(3.0) -> d(3.0)))
    assert(withBad.getLong(0) === 3L && withBad.getDouble(1) === 1.0)
  }

  test("spearmanRho matches the reference on random tied data; cell-count invariant") {
    val rnd = new scala.util.Random(227)
    val s = spark
    import s.implicits._
    (1 to 3).foreach { trial =>
      // heavy ties: values drawn from small grids
      val xs = Seq.fill(60)(rnd.nextInt(7).toDouble)
      val ys = xs.map(x => x * (trial - 2) + rnd.nextInt(5).toDouble)
      val df = xs.zip(ys).toDF("x", "y")
      val want = refSpearman(xs, ys)
      Seq(1, 3, 1024).foreach { cells =>
        val r = Eval.spearmanRho(df, col("x"), col("y"), cells).head()
        val gotRho = if (r.isNullAt(1)) None else Some(r.getDouble(1))
        assert(r.getLong(0) === 60L)
        assert(gotRho === want, s"trial=$trial cells=$cells")
      }
    }
  }

  test("ndcgMrrMicro ideal cut: rel ties beyond k don't change idcg") {
    val s = spark
    import s.implicits._
    // five rel=2 docs, k=2: ideal takes any two of them — idcg must
    // not depend on WHICH two (equal gains), pinning the top-k-cut
    // equivalence to the full-window form
    val qrels = (1L to 5L).map((_, 2L)).toDF("id", "rel")
    val run = Seq((1L, 1L), (2L, 2L)).toDF("id", "rank")
    val r = Eval.ndcgMrrMicro(run, qrels, 2).head()
    assert(r.getLong(0) === 1000000L) // run hits 2 rel-2 docs: perfect
    assert(r.getLong(3) === 5L)
  }

  test("mannWhitneyU: golden hand-computed statistic with ties") {
    val s = spark
    import s.implicits._
    // A = {1, 2, 3}, B = {2, 4}; pooled midranks 1→1, 2→2.5, 3→4,
    // 4→5, so R_A = 7.5 and u2_a = 2·7.5 − 3·4 = 3 (U_A = 1.5 — the
    // concordant-pair count: one win 3>2 plus half the 2=2 tie).
    // Ties T = 2³−2 = 6; 4σ² = 3·2·(5³−5−6)/(3·5·4) = 11.4;
    // z = (3 − 3·2)/√11.4.
    val r = Eval.mannWhitneyU(
      Seq((1.0, true), (2.0, true), (3.0, true), (2.0, false),
        (4.0, false)).toDF("v", "a"), col("v"), col("a")).head()
    assert(r.getLong(0) === 3L && r.getLong(1) === 2L)
    assert(r.getLong(2) === 3L, s"u2_a: $r")
    assert(r.getLong(3) === 6L, s"tie_t: $r")
    val wantZ = BigDecimal(-3.0 / math.sqrt(6.0 * 114.0 / 60.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(4) === wantZ, s"z: $r")
    // cell-count invariance: the statistic must not depend on the
    // midrank bucketization (the q61 contract)
    Seq(1, 2, 7).foreach { cells =>
      val rc = Eval.mannWhitneyU(
        Seq((1.0, true), (2.0, true), (3.0, true), (2.0, false),
          (4.0, false)).toDF("v", "a"), col("v"), col("a"), cells)
        .head()
      assert(rc.getLong(2) === 3L && rc.getDouble(4) === wantZ,
        s"cells=$cells: $rc")
    }
  }

  test("mannWhitneyU: degenerate contracts — all tied, n<2, empty") {
    val s = spark
    import s.implicits._
    def run(rows: Seq[(Double, Boolean)]) =
      Eval.mannWhitneyU(rows.toDF("v", "a"), col("v"), col("a")).head()
    // every pooled value ties: all cross pairs half-count
    // (u2_a = n_a·n_b exactly) and σ = 0 → z NULL, counts reported
    val tied = run(Seq((5.0, true), (5.0, true), (5.0, false)))
    assert(tied.getLong(0) === 2L && tied.getLong(1) === 1L)
    assert(tied.getLong(2) === 2L && tied.getLong(3) === 24L)
    assert(tied.isNullAt(4), s"expected null z: $tied")
    // n < 2
    val one = run(Seq((3.0, true)))
    assert(one.getLong(0) === 1L && one.getLong(1) === 0L &&
      one.getLong(2) === 0L && one.isNullAt(4))
    // empty input still reports one zero row
    val empty = run(Seq.empty)
    assert(empty.getLong(0) === 0L && empty.getLong(1) === 0L &&
      empty.getLong(2) === 0L && empty.getLong(3) === 0L &&
      empty.isNullAt(4))
  }

  test("mwDriftStream: each batch's row equals mwAgainstReference over " +
    "that batch, tagged with its batch_id") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = s.sqlContext
    val reference = Seq(1L, 2L, 2L, 3L, 4L, 5L, 5L, 5L).toDF("v")
    val refC = Eval.referenceValueCounts(reference, col("v"))
    val batches = Seq(Seq(2L, 3L, 5L, 7L), Seq(8L, 8L, 9L, 1L, 10L))
    val mem = MemoryStream[Long]
    val seen = scala.collection.mutable.ArrayBuffer[Seq[Any]]()
    val q = Eval.mwDriftStream(mem.toDF().toDF("v"), reference,
        col("v")) { m =>
      seen ++= m.collect().map(_.toSeq)
    }
    try {
      batches.foreach { b =>
        mem.addData(b: _*)
        q.processAllAvailable()
      }
      val want = batches.zipWithIndex.map { case (b, id) =>
        Eval.mwAgainstReference(b.toDF("v"), refC, col("v")).head().toSeq :+
          id.toLong
      }
      assert(seen.toList === want.toList)
      // the shifted second batch scores above the reference
      assert(seen(1)(4).asInstanceOf[Double] > 0.0, seen.toString)
    } finally q.stop()
  }

  test("welchT: golden statistic and degenerate NULL contracts") {
    val s = spark
    import s.implicits._
    def run(rows: Seq[(Long, Boolean)]) =
      Eval.welchT(rows.toDF("v", "a"), col("v"), col("a")).head()
    // A = {1,2,3,4}, B = {2,4,6}: s²a/na = 5/12, s²b/nb = 4/3,
    // x̄−ȳ = 2.5−4 = −1.5 — re-derive t and df through the SAME
    // single-division IEEE ops the operator contracts to
    val va = 5.0 / 12.0
    val vb = 4.0 / 3.0
    val d = -18.0 / 12.0
    def r6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val wantT = r6(d / math.sqrt(va + vb))
    val wantDf = r6((va + vb) * (va + vb) /
      (va * va / 3.0 + vb * vb / 2.0))
    val g = run(Seq(1L -> true, 2L -> true, 3L -> true, 4L -> true,
      2L -> false, 4L -> false, 6L -> false))
    assert(g.getLong(0) === 4L && g.getLong(1) === 3L)
    assert(g.getDouble(2) === wantT, s"t: $g")
    assert(g.getDouble(3) === wantDf, s"df: $g")
    // scale invariance under integer quantization (×100): identical
    val g100 = run(Seq(100L -> true, 200L -> true, 300L -> true,
      400L -> true, 200L -> false, 400L -> false, 600L -> false))
    assert(g100.getDouble(2) === wantT && g100.getDouble(3) === wantDf)
    // one side too small → NULL t and df
    val small = run(Seq(1L -> true, 2L -> false, 4L -> false))
    assert(small.getLong(0) === 1L && small.isNullAt(2) &&
      small.isNullAt(3))
    // both sides constant: zero pooled variance → NULL, never NaN
    val const = run(Seq(5L -> true, 5L -> true, 7L -> false,
      7L -> false))
    assert(const.isNullAt(2) && const.isNullAt(3), s"const: $const")
  }

  test("cusumChangepoint: planted step, constant series, tie-break") {
    val s = spark
    import s.implicits._
    def run(rows: Seq[(Long, Long)]) =
      Eval.cusumChangepoint(rows.toDF("b", "v"), col("v"), col("b"))
        .head()
    // planted step: buckets 1,2 at 0; buckets 3,4 at 1e7 micro.
    // T=4, S=2e7; D = (−2e7, −4e7, −2e7, 0) → argmax |D| = bucket 2
    // (the last bucket BEFORE the shift) with cusum −4e7
    val step = run(Seq(1L -> 0L, 2L -> 0L, 3L -> 10000000L,
      4L -> 10000000L))
    assert(step.getLong(0) === 2L, s"cp: $step")
    assert(step.getLong(1) === 4L)
    assert(step.getDouble(2) === -4.0e7, s"cusum: $step")
    // constant series: every D = 0 → tie-break reports the smallest
    // bucket with cusum 0
    val const = run(Seq(5L -> 7L, 6L -> 7L, 7L -> 7L))
    assert(const.getLong(0) === 5L && const.getDouble(2) === 0.0)
    // uneven bucket sizes: the count term matters. buckets: 1 has
    // rows (0,0), 2 has (6). T=3, S=6.
    // D_1 = 3·0 − 6·2 = −12; D_2 = 0 → cp bucket 1, cusum −12
    val uneven = run(Seq(1L -> 0L, 1L -> 0L, 2L -> 6L))
    assert(uneven.getLong(0) === 1L && uneven.getDouble(2) === -12.0)
  }

  test("cusumBinseg: two planted steps, constant child, single bucket") {
    val s = spark
    import s.implicits._
    def run(rows: Seq[(Long, Long)]) =
      Eval.cusumBinseg(rows.toDF("b", "v"), col("v"), col("b"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getDouble(4))).toSeq
    // two steps: buckets 1-3 at 0, 4-6 at 10, 7-9 at 50 (micro).
    // Root: T=9, S=180, D=(−180,−360,−540,−630,−720,−810,−540,−270,0)
    //   → cp 6 (the dominant 10→50 shift).
    // Left [1..6]: T=6, S=30, D=(−30,−60,−90,−60,−30,0) → cp 3
    //   (the 0→10 shift the root could not see).
    // Right [7..9]: constant → smallest bucket, cusum 0.
    val two = run(Seq(1L -> 0L, 2L -> 0L, 3L -> 0L,
      4L -> 10L, 5L -> 10L, 6L -> 10L,
      7L -> 50L, 8L -> 50L, 9L -> 50L))
    assert(two === Seq(
      (1L, "root", 6L, 9L, -810.0),
      (2L, "left", 3L, 6L, -90.0),
      (2L, "right", 7L, 3L, 0.0)), two.mkString("\n"))
    // single bucket: root cp is the bucket itself (cusum 0), the left
    // child is that same degenerate segment, the right side is EMPTY
    // and must emit no row
    val one = run(Seq(5L -> 7L, 5L -> 9L))
    assert(one === Seq(
      (1L, "root", 5L, 1L, 0.0),
      (2L, "left", 5L, 1L, 0.0)), one.mkString("\n"))
  }

  test("anovaF: hand-computed F, degenerate contracts") {
    val s = spark
    import s.implicits._
    def run(rows: Seq[(String, Long)]) =
      Eval.anovaF(rows.toDF("g", "v"), col("v"), col("g")).head()
    // groups a=[1,2,3] b=[2,4,6] c=[10,10]: means 2/4/10, grand 4.75;
    // SSB = 3*(2-4.75)^2 + 3*(4-4.75)^2 + 2*(10-4.75)^2 = 79.5;
    // SSW = 2 + 8 + 0 = 10; F = (79.5/2)/(10/5) = 19.875
    val g = run(Seq("a" -> 1L, "a" -> 2L, "a" -> 3L,
      "b" -> 2L, "b" -> 4L, "b" -> 6L, "c" -> 10L, "c" -> 10L))
    assert((g.getLong(0), g.getLong(1), g.getLong(2), g.getLong(3))
      === ((3L, 8L, 2L, 5L)), s"counts: $g")
    assert(g.getDouble(4) === 19.875, s"F: $g")
    // one group: F undefined
    val one = run(Seq("a" -> 1L, "a" -> 2L))
    assert(one.getLong(0) === 1L && one.isNullAt(4), s"one: $one")
    // all groups constant: zero within-group mass -> NULL, never a
    // division blowup
    val const = run(Seq("a" -> 5L, "a" -> 5L, "b" -> 9L, "b" -> 9L))
    assert(const.isNullAt(4), s"const: $const")
  }

  test("kruskalWallisH: hand-computed tie-corrected H, degenerates") {
    val s = spark
    import s.implicits._
    def run(rows: Seq[(String, Long)]) =
      Eval.kruskalWallisH(rows.toDF("g", "v"), col("v"), col("g"))
        .head()
    def r6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // same corpus as the ANOVA golden: pooled ranks
    // 1->1, {2,2}->2.5, 3->4, 4->5, 6->6, {10,10}->7.5;
    // R_a=7.5 R_b=13.5 R_c=15 -> sum R^2/n = 192;
    // H0 = 12*192/(8*9) - 27 = 5; T = 2*(8-2) = 12;
    // H = 5 / (1 - 12/504)
    val g = run(Seq("a" -> 1L, "a" -> 2L, "a" -> 3L,
      "b" -> 2L, "b" -> 4L, "b" -> 6L, "c" -> 10L, "c" -> 10L))
    assert((g.getLong(0), g.getLong(1), g.getLong(2))
      === ((3L, 8L, 12L)), s"counts: $g")
    assert(g.getDouble(3) === r6(5.0 / (1.0 - 12.0 / 504.0)),
      s"H: $g")
    // one group: undefined
    assert(run(Seq("a" -> 1L, "a" -> 2L)).isNullAt(3))
    // every pooled value tied: the correction hits 0 -> NULL
    assert(run(Seq("a" -> 7L, "a" -> 7L, "b" -> 7L)).isNullAt(3))
  }

  test("runsTest: hand-computed runs, clumped vs alternating, degenerates") {
    val s = spark
    import s.implicits._
    def run(rows: Seq[(Long, Long)]) =
      Eval.runsTest(rows.toDF("b", "v"), col("v"), col("b")).collect()
    def r6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def zOf(r: Long, n1: Long, n2: Long): Double =
      r6((r.toDouble - (2.0 * n1 * n2 / (n1 + n2) + 1.0)) /
        math.sqrt(2.0 * n1 * n2 * (2 * n1 * n2 - n1 - n2) /
          ((n1 + n2).toDouble * (n1 + n2) * (n1 + n2 - 1))))
    // series 1,9,2,8,3,7 at x=1..6: median selection over sorted
    // (1,2,3,7,8,9) picks k=(6+1)div 2=3 -> med 3; signs per x:
    // (1:-, 9:+, 2:-, 8:+, 3 drops, 7:+) -> -,+,-,+,+ : 4 runs,
    // n1=3, n2=2 (perfect alternation until the tail)
    val alt = run(Seq(1L -> 1L, 2L -> 9L, 3L -> 2L, 4L -> 8L,
      5L -> 3L, 6L -> 7L)).head
    assert((alt.getLong(0), alt.getLong(1), alt.getLong(2),
      alt.getLong(3)) === ((6L, 3L, 2L, 4L)), s"alt: $alt")
    assert(alt.getDouble(4) === zOf(4L, 3L, 2L), s"alt z: $alt")
    // clumped: 1,1,2,9,9,8 -> med 2 (sorted 1,1,2,8,9,9; k=3);
    // signs: -,-,drop,+,+,+ -> 2 runs, n1=3, n2=2, z negative
    val clump = run(Seq(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 9L,
      5L -> 9L, 6L -> 8L)).head
    assert((clump.getLong(1), clump.getLong(2), clump.getLong(3))
      === ((3L, 2L, 2L)), s"clump: $clump")
    assert(clump.getDouble(4) === zOf(2L, 3L, 2L), s"clump z: $clump")
    assert(clump.getDouble(4) < 0, "clumping must push z negative")
    // constant series: every bucket equals the median -> no signs,
    // zero runs, z NULL
    val const = run(Seq(1L -> 5L, 2L -> 5L, 3L -> 5L)).head
    assert((const.getLong(1), const.getLong(2), const.getLong(3))
      === ((0L, 0L, 0L)) && const.isNullAt(4), s"const: $const")
    // empty input: empty report
    assert(run(Seq.empty).isEmpty)
  }

  test("pairedBootstrap matches an independent in-memory reference") {
    val s = spark
    import s.implicits._
    def md5L60(t: String): Long = {
      val dg = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        dg.map(b => f"$b%02x").mkString.substring(0, 15), 16)
    }
    val cdf = Seq(367879L, 735758L, 919698L, 981011L, 996340L,
      999405L)
    val rnd = new scala.util.Random(41)
    val items = (1L to 40L).map(i => (i, (rnd.nextInt(20001) - 10000).toLong))
    val reps = 32
    // reference: identical hash draws, integer weights, one rounded
    // division per replicate, exact order statistics
    val repMeans = (0 until reps).flatMap { b =>
      val ws = items.map { case (i, d) =>
        val u = md5L60(s"$i|$b") % 1000000L
        (cdf.count(u >= _).toLong, d)
      }
      val ne = ws.map(_._1).sum
      if (ne == 0) None
      else Some((b.toLong, BigDecimal(
        ws.map { case (w, d) => w * d }.sum.toDouble / ne)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong))
    }
    val sorted = repMeans.sortBy { case (b, m) => (m, b) }.map(_._2)
    val kLo = (repMeans.size * 25 + 999) / 1000
    val want = (
      40L,
      BigDecimal(items.map(_._2).sum.toDouble / 40)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong,
      repMeans.size.toLong,
      repMeans.count(_._2 > 0).toLong,
      sorted(kLo - 1),
      sorted(repMeans.size - kLo))
    val r = Eval.pairedBootstrap(items.toDF("id", "d"), col("id"),
      col("d"), replicates = reps).head()
    val got = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5))
    assert(got === want, s"got $got want $want")
    // all-positive deltas: every replicate must favor A
    val pos = Eval.pairedBootstrap(
      (1L to 20L).map(i => (i, i * 1000L)).toDF("id", "d"),
      col("id"), col("d"), replicates = 16).head()
    assert(pos.getLong(3) === pos.getLong(2), s"pos: $pos")
    assert(pos.getLong(4) <= pos.getLong(5))
    // empty input: empty report
    assert(Eval.pairedBootstrap(
      Seq.empty[(Long, Long)].toDF("id", "d"), col("id"), col("d"),
      replicates = 8).isEmpty)
  }

  test("mannKendallTheilSen: hand-computed S, ties, z, median slope") {
    val s = spark
    import s.implicits._
    def run(rows: Seq[(Long, Long)]) =
      Eval.mannKendallTheilSen(rows.toDF("b", "v"), col("v"),
        col("b")).collect()
    // series m = (10, 20, 15, 30, 30) at x = 1..5:
    // signs: 8 pluses, 1 minus, 1 tie -> S = 7; tie group {30,30} ->
    // tt = 2*1*9 = 18; var18 = 5*4*15 - 18 = 282;
    // z = (7-1)/sqrt(282/18); slopes sorted
    // (-5,0,3,3,5,5,7,8,10,15), k = (10+1) div 2 = 5 -> median 5
    val g = run(Seq(1L -> 10L, 2L -> 20L, 3L -> 15L, 4L -> 30L,
      5L -> 30L))
    assert(g.length === 1)
    val r = g.head
    def r6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getLong(0) === 5L && r.getLong(1) === 7L &&
      r.getLong(2) === 282L, s"row: $r")
    assert(r.getDouble(3) === r6(6.0 / math.sqrt(282 / 18.0)),
      s"z: $r")
    assert(r.getLong(4) === 5L, s"slope: $r")
    // constant series: S = 0, full tie table zeroes var18 -> z NULL,
    // every pairwise slope 0
    val c = run(Seq(1L -> 7L, 2L -> 7L, 3L -> 7L)).head
    assert(c.getLong(1) === 0L && c.getLong(2) === 0L &&
      c.isNullAt(3) && c.getLong(4) === 0L, s"const: $c")
    // strictly decreasing: S = -n(n-1)/2, negative continuity branch
    val d = run(Seq(1L -> 30L, 2L -> 20L, 3L -> 10L)).head
    assert(d.getLong(1) === -3L, s"dec: $d")
    assert(d.getDouble(3) === r6(-2.0 / math.sqrt(
      (3 * 2 * 11 - 0) / 18.0)), s"dec z: $d")
    assert(d.getLong(4) === -10L, s"dec slope: $d")
    // fewer than two buckets: empty report
    assert(run(Seq(1L -> 5L)).isEmpty)
  }

  test("cusumBinsegUpdate: random batch splits equal the one-shot binseg") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    // two planted steps + noise buckets, split into 3 random batches
    val rows = (1L to 60L).map { i =>
      val base = if (i <= 20) 0L else if (i <= 40) 100L else 900L
      (i / 3L, base + rnd.nextInt(5))
    }
    val oneShot = Eval.cusumBinseg(rows.toDF("b", "v"), col("v"),
      col("b")).collect().toSeq
    val batches = rows.groupBy { case (b, v) =>
      math.abs((b * 31 + v).toInt) % 3 }
    val out = graft.streaming.Monitor.replay(
      (0 until 3).map(k => batches.getOrElse(k, Seq.empty).toDF("b", "v")),
      Map.empty: Eval.BucketSums)(
      Eval.cusumBinsegUpdate(_, col("v"), col("b"), _))
      .last.collect().toSeq
    assert(out === oneShot, s"fold\n${out.mkString("\n")}\nvs\n" +
      oneShot.mkString("\n"))
  }

  test("cusumBatchUpdate: >1e20 integral sums and the maxBuckets guard") {
    val s = spark
    import s.implicits._
    val freshState: Eval.BucketSums = Map.empty
    // a bucket whose micro-sum (20 × 9e18 = 1.8e20) exceeds the
    // integral headroom of decimal(38,18) — the type the default
    // BigDecimal encoder would pin — so this pins the explicit
    // decimal(38,0) round-trip: the fold must still equal the
    // one-shot bit-for-bit (round-10 advice)
    val big = (Seq.fill(20)(1L -> 9000000000000000000L) ++
      Seq.fill(5)(2L -> 1L)).toDF("b", "v")
    val folded =
      Eval.cusumBatchUpdate(big, col("v"), col("b"), freshState)._1.head()
    val oneShot = Eval.cusumChangepoint(big, col("v"), col("b")).head()
    assert(folded === oneShot, s"fold $folded vs one-shot $oneShot")
    // bounded-state contract: a bucket expression finer than
    // maxBuckets must fail loudly instead of growing driver state
    val fine = (1L to 50L).map(i => (i, i)).toDF("b", "v")
    val e = intercept[IllegalArgumentException] {
      Eval.cusumBatchUpdate(fine, col("v"), col("b"), freshState,
        maxBuckets = 10)
    }
    assert(e.getMessage.contains("maxBuckets"), e.getMessage)
  }

  test("brownForsytheF equals anovaF on hand-derived median deviations") {
    val s = spark
    import s.implicits._
    // lower medians: a→2 (k=⌈1.5⌉=2nd of 1,2,9), b→4, c→1 (even n
    // takes the lower-middle) — deviations derived by hand below
    val rows = Seq(("a", 1L), ("a", 2L), ("a", 9L), ("b", 4L),
      ("b", 4L), ("b", 4L), ("b", 4L), ("c", 1L), ("c", 3L))
    val bf = Eval.brownForsytheF(rows.toDF("g", "v"), col("v"),
      col("g"), buckets = 4, threshold = 2).head()
    val dev = Seq(("a", 1L), ("a", 0L), ("a", 7L), ("b", 0L),
      ("b", 0L), ("b", 0L), ("b", 0L), ("c", 0L), ("c", 2L))
    val ref = Eval.anovaF(dev.toDF("g", "dv"), col("dv"),
      col("g")).head()
    assert(bf.getLong(0) === ref.getLong(0) &&
      bf.getLong(1) === ref.getLong(1) &&
      bf.getLong(2) === ref.getLong(2) &&
      bf.getLong(3) === ref.getLong(3))
    assert(bf.getDouble(4) === ref.getDouble(4),
      s"W $bf vs ANOVA-on-deviations $ref")
    // constant groups: every deviation 0 → no within mass → NULL
    val const = Seq(("a", 5L), ("a", 5L), ("b", 7L), ("b", 7L))
    assert(Eval.brownForsytheF(const.toDF("g", "v"), col("v"),
      col("g")).head().isNullAt(4))
    // single group → k < 2 → NULL
    assert(Eval.brownForsytheF(Seq(("a", 1L), ("a", 5L), ("a", 9L))
      .toDF("g", "v"), col("v"), col("g")).head().isNullAt(4))
  }

  test("jarqueBera: hand-computed moments and degenerate contracts") {
    val s = spark
    import s.implicits._
    def run(vs: Seq[Long]) =
      Eval.jarqueBera(vs.toDF("v"), col("v")).head()
    // symmetric two-point {0,0,2,2}: μ=1, m2=1, m3=0, m4=1 →
    // g1=0, g2=1, JB = 4/6·(0 + (1−3)²/4) = 2/3
    val sym = run(Seq(0L, 0L, 2L, 2L))
    assert(sym.getLong(0) === 4L && sym.getDouble(1) === 1.0)
    assert(sym.getDouble(2) === 0.0 && sym.getDouble(3) === 1.0)
    assert(sym.getDouble(4) === 0.666667, s"JB: $sym")
    // skewed {0,0,0,4}: m2=3, m3=6, m4=21 → g1=6/(3√3)=1.154701,
    // g2=21/9=2.333333, JB = 26/27 = 0.962963
    val sk = run(Seq(0L, 0L, 0L, 4L))
    assert(sk.getDouble(2) === 1.154701 &&
      sk.getDouble(3) === 2.333333 &&
      sk.getDouble(4) === 0.962963, s"skewed: $sk")
    // constant input: zero variance → NULL stats, mean still reported
    val const = run(Seq(7L, 7L, 7L))
    assert(const.getDouble(1) === 7.0 && const.isNullAt(2) &&
      const.isNullAt(3) && const.isNullAt(4))
    // n = 1 → NULL stats
    assert(run(Seq(5L)).isNullAt(4))
  }

  test("friedmanQ: textbook monotone blocks, ties, incomplete blocks") {
    val s = spark
    import s.implicits._
    def run(rows: Seq[(Long, String, Long)]) =
      Eval.friedmanQ(rows.toDF("b", "t", "v"), col("v"), col("b"),
        col("t")).head()
    // 3 blocks × 3 treatments, same order everywhere → maximal
    // Q = 12/(nk(k+1))·ΣR² − 3n(k+1) = 42 − 36 = 6
    val mono = for (b <- 1L to 3L; (t, v) <- Seq(("a", 1L), ("b", 2L),
      ("c", 3L))) yield (b, t, v)
    val m = run(mono)
    assert(m.getLong(0) === 3L && m.getLong(1) === 3L &&
      m.getDouble(2) === 6.0, s"monotone: $m")
    // third block fully tied (midranks): R2 = (8,12,16), num = 32,
    // denom = 160 − 144 = 16 → Q = 2·32/16 = 4
    val tied = mono.filter(_._1 <= 2L) ++
      Seq((3L, "a", 5L), (3L, "b", 5L), (3L, "c", 5L))
    assert(run(tied).getDouble(2) === 4.0)
    // an incomplete block (2 of 3 treatments) is excluded entirely
    val withIncomplete = mono ++ Seq((9L, "a", 1L), (9L, "b", 2L))
    val wi = run(withIncomplete)
    assert(wi.getLong(1) === 3L && wi.getDouble(2) === 6.0,
      s"incomplete block must drop: $wi")
    // every block fully tied → zero rank mass → NULL
    val allTied = for (b <- 1L to 2L; t <- Seq("a", "b", "c"))
      yield (b, t, 5L)
    assert(run(allTied).isNullAt(2))
    // single treatment → k < 2 → NULL
    assert(run(Seq((1L, "a", 1L), (2L, "a", 2L))).isNullAt(2))
  }

  test("acf: hand-computed lags, gap awareness, constant series") {
    val s = spark
    import s.implicits._
    def run(rows: Seq[(Long, Long)], maxLag: Int) =
      Eval.acf(rows.toDF("b", "v"), col("v"), col("b"),
        maxLag = maxLag).collect()
    // series 1,2,3,4: d = 4m−10 = (−6,−2,2,6), denom = 80 →
    // r1 = 20/80, r2 = −24/80, r3 = −36/80
    val a = run(Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L)), 5)
    assert(a.length === 3, a.mkString(","))
    assert(a(0).getLong(0) === 1L && a(0).getLong(1) === 3L &&
      a(0).getDouble(2) === 0.25)
    assert(a(1).getDouble(2) === -0.3 && a(2).getDouble(2) === -0.45)
    // a missing bucket contributes NO pair (gap-aware, never
    // bridged): x = 0,1,3 → lag-1 pairs only (0,1)
    val g = run(Seq((0L, 1L), (1L, 2L), (3L, 4L)), 3)
    assert(g(0).getLong(1) === 1L &&
      g(0).getDouble(2) === 0.095238, g.mkString(","))
    assert(g(1).getLong(1) === 1L &&
      g(1).getDouble(2) === -0.119048)
    assert(g(2).getDouble(2) === -0.47619)
    // constant series: zero deviation mass → NULL acf, pairs counted
    val c = run(Seq((0L, 5L), (1L, 5L), (2L, 5L)), 2)
    assert(c.forall(_.isNullAt(2)) && c(0).getLong(1) === 2L)
  }

  test("ewmaForecast: hand-computed weights, gaps, no-past buckets") {
    val s = spark
    import s.implicits._
    def run(rows: Seq[(Long, Long)], w: Int) =
      Eval.ewmaForecast(rows.toDF("b", "v"), col("v"), col("b"),
        window = w).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    // m = 100,200,300,400 at x=0..3, window 2 (weights 2,1):
    // f(1)=100; f(2)=round((100+400)/3)=167; f(3)=round(800/3)=267;
    // x=0 has no past and must be absent
    val a = run(Seq((0L, 100L), (1L, 200L), (2L, 300L), (3L, 400L)), 2)
    assert(a === Seq((1L, 200L, 100L, 100L), (2L, 300L, 167L, 133L),
      (3L, 400L, 267L, 133L)), a.mkString(","))
    // gap at x=2: x=3's window {1,2} holds only x=1 (weight 1) →
    // forecast renormalizes to m(1)=200, never bridges positions
    val g = run(Seq((0L, 100L), (1L, 200L), (3L, 400L)), 2)
    assert(g === Seq((1L, 200L, 100L, 100L), (3L, 400L, 200L, 200L)),
      g.mkString(","))
    // single bucket: nothing has a past → empty report
    assert(run(Seq((5L, 42L)), 4).isEmpty)
  }

  test("ljungBox: hand-computed terms over the shared ACF, degenerate") {
    val s = spark
    import s.implicits._
    def run(rows: Seq[(Long, Long)], maxLag: Int) =
      Eval.ljungBox(rows.toDF("b", "v"), col("v"), col("b"),
        maxLag = maxLag).head()
    // series 1..4: r = (0.25, −0.3, −0.45), n(n+2) = 24 →
    // terms 24·r²/(n−k)·1e6 = 500000 + 1080000 + 4860000
    val a = run(Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L)), 8)
    assert(a.getLong(0) === 4L && a.getLong(1) === 3L &&
      a.getLong(2) === 6440000L, s"LB: $a")
    // constant series: every acf NULL → zero lags, LB 0
    val c = run(Seq((0L, 5L), (1L, 5L), (2L, 5L)), 4)
    assert(c.getLong(0) === 3L && c.getLong(1) === 0L &&
      c.getLong(2) === 0L)
  }

  test("cochranQ: textbook counts, McNemar reduction, degenerates") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.DataFrame
    def run(df: DataFrame, cols: Seq[String]) =
      Eval.cochranQ(df, cols.map(col)).head()
    // C=(4,2,1), N=7, ΣR²=15 → Q = 2·(3·21−49)/(21−15) = 28/6
    val tri = Seq((1L, 1L, 0L), (1L, 0L, 0L), (1L, 1L, 1L),
      (1L, 0L, 0L)).toDF("a", "b", "c")
    val t = run(tri, Seq("a", "b", "c"))
    assert(t.getLong(0) === 4L && t.getLong(1) === 3L &&
      t.getDouble(2) === 4.666667, s"Q: $t")
    // k=2 must reduce to McNemar's UNcorrected χ² = (b−c)²/(b+c):
    // b=5, c=1 → 16/6 = 2.666667
    val two = (Seq.fill(5)((1L, 0L)) ++ Seq((0L, 1L)) ++
      Seq.fill(3)((1L, 1L)) ++ Seq.fill(2)((0L, 0L))).toDF("a", "b")
    assert(run(two, Seq("a", "b")).getDouble(2) === 2.666667)
    // uniform subjects (all-correct / all-wrong) discriminate
    // nothing: denominator 0 → NULL
    val uni = Seq((1L, 1L, 1L), (0L, 0L, 0L)).toDF("a", "b", "c")
    assert(run(uni, Seq("a", "b", "c")).isNullAt(2))
  }

  test("forecastMase: hand-computed ratio and the degenerate row") {
    val s = spark
    import s.implicits._
    // series 100..400, window 2: Σ|resid| = 100+133+133 = 366 over
    // 3 forecasts; naive diffs all 100 → MASE = 366·3/(300·3) = 1.22
    val m = Eval.forecastMase(
      Seq((0L, 100L), (1L, 200L), (2L, 300L), (3L, 400L))
        .toDF("b", "v"),
      col("v"), col("b"), window = 2).head()
    assert(m.getLong(0) === 3L && m.getLong(1) === 3L)
    assert(m.getLong(2) === 122L && m.getLong(3) === 100L)
    assert(m.getDouble(4) === 1.22, s"mase: $m")
    // single bucket: no forecasts, no naive pairs → NULLs, not NaN
    val d = Eval.forecastMase(Seq((7L, 5L)).toDF("b", "v"),
      col("v"), col("b"), window = 4).head()
    assert(d.getLong(0) === 0L && d.getLong(1) === 0L &&
      d.isNullAt(2) && d.isNullAt(3) && d.isNullAt(4))
  }

  test("andersonDarling2: hand-computed midpoint terms, degenerates") {
    val s = spark
    import s.implicits._
    def run(rows: Seq[(Double, Boolean)]) =
      Eval.andersonDarling2(rows.toDF("v", "a"), col("v"),
        col("a")).head()
    // A={1,2}, B={2,3}: per-side terms 125000+375000+125000 →
    // A² micro = 1250000 (hand-derived doubled-midpoint arithmetic)
    val r = run(Seq((1.0, true), (2.0, true), (2.0, false),
      (3.0, false)))
    assert(r.getLong(0) === 2L && r.getLong(1) === 2L &&
      r.getLong(2) === 3L)
    assert(r.getLong(3) === 1250000L, s"AD: $r")
    // pointwise-identical samples: every X = N·M̄ − n·B̄ is 0 → A²=0
    val eq = run(Seq((1.0, true), (2.0, true), (1.0, false),
      (2.0, false)))
    assert(eq.getLong(3) === 0L, s"identical: $eq")
    // one side empty → NULL
    assert(run(Seq((1.0, true), (2.0, true))).isNullAt(3))
    // everything tied on one value → NULL (the only zero-denominator)
    assert(run(Seq((5.0, true), (5.0, false))).isNullAt(3))
  }

  test("energyDistance: hand masses, zero iff equal, degenerates") {
    val s = spark
    import s.implicits._
    def run(rows: Seq[(Long, Boolean)]) =
      Eval.energyDistance(rows.toDF("v", "a"), col("v"),
        col("a")).head()
    // A={0,2}, B={1,3}: 2·(6/4) − 4/4 − 4/4 = 1
    val r = run(Seq((0L, true), (2L, true), (1L, false),
      (3L, false)))
    assert(r.getLong(0) === 2L && r.getLong(1) === 2L &&
      r.getDouble(2) === 1.0, s"E: $r")
    // identical samples → exactly 0 (the defining property)
    val eq = run(Seq((1L, true), (2L, true), (1L, false),
      (2L, false)))
    assert(eq.getDouble(2) === 0.0, s"identical: $eq")
    // empty side → NULL
    assert(run(Seq((1L, true))).isNullAt(2))
  }

  test("driftPanel stats equal the standalone operators' stats") {
    val s = spark
    import s.implicits._
    // ties, a location shift and a scale change across the split
    val rows = Seq((10L, true), (20L, true), (20L, true),
      (30L, true), (45L, true), (20L, false), (40L, false),
      (40L, false), (80L, false), (90L, false), (15L, true))
    val df = rows.toDF("v", "a")
      .withColumn("seg", when(col("a"), "A").otherwise("B"))
    def opt(r: org.apache.spark.sql.Row, i: Int): Option[Double] =
      if (r.isNullAt(i)) None else Some(r.getDouble(i))
    val panel = Eval.driftPanel(df, col("v"), col("a"))
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(panel.size === 5, panel.toString)
    val ks = Eval.ksMicro(df, col("v"), col("seg"), "A", "B").head()
    assert(panel("ks_micro") === Some(ks.getLong(0).toDouble))
    val w1 = Eval.wasserstein1Micro(df, col("v"), col("seg"),
      "A", "B").head()
    assert(panel("w1_micro") === Some(w1.getLong(0).toDouble))
    assert(panel("mw_z") ===
      opt(Eval.mannWhitneyU(df, col("v"), col("a")).head(), 4))
    assert(panel("ad_micro") ===
      Some(Eval.andersonDarling2(df, col("v"), col("a")).head()
        .getLong(3).toDouble))
    assert(panel("energy_micro") ===
      opt(Eval.energyDistance(df, col("v"), col("a")).head(), 2))
  }

  test("seriesPanel stats equal the standalone operators' stats") {
    val s = spark
    import s.implicits._
    // gaps, duplicates, a level shift and some oscillation — every
    // check has something to say
    val rows = Seq((0L, 100L), (0L, 140L), (1L, 90L), (2L, 130L),
      (4L, 100L), (5L, 600L), (6L, 640L), (7L, 580L), (8L, 620L))
    val df = rows.toDF("b", "v")
    def stat(of: org.apache.spark.sql.Row, i: Int): Option[Double] =
      if (of.isNullAt(i)) None else Some(of.getDouble(i))
    val panel = Eval.seriesPanel(df, col("v"), col("b"), maxLag = 8,
        window = 16)
      .collect()
      .map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(panel.size === 6, panel.toString)
    val cp = Eval.cusumChangepoint(df, col("v"), col("b")).head()
    assert(panel("cusum_cp_bucket") ===
      Some(cp.getLong(0).toDouble))
    assert(panel("mann_kendall_z") ===
      stat(Eval.mannKendallTheilSen(df, col("v"), col("b")).head(), 3))
    assert(panel("runs_z") ===
      stat(Eval.runsTest(df, col("v"), col("b")).head(), 4))
    val acf1 = Eval.acf(df, col("v"), col("b"), maxLag = 1).head()
    assert(panel("acf_lag1") === stat(acf1, 2))
    assert(panel("ljung_box_micro") ===
      Some(Eval.ljungBox(df, col("v"), col("b"), maxLag = 8).head()
        .getLong(2).toDouble))
    assert(panel("ewma_mase") ===
      stat(Eval.forecastMase(df, col("v"), col("b"),
        window = 16).head(), 4))
  }

  test("ewmaBatchUpdate: fold equals the one-shot forecast") {
    val s = spark
    import s.implicits._
    val rows = Seq((0L, 100L), (0L, 200L), (1L, 200L), (2L, 300L),
      (2L, 330L), (4L, 400L), (5L, 150L), (7L, 800L))
    val df = rows.toDF("b", "v")
    val oneShot = Eval.ewmaForecast(df, col("v"), col("b"),
      window = 3).collect().toSeq
    val out = graft.streaming.Monitor.replay(
      (0 until 3).map { k =>
        rows.filter { case (b, v) =>
          math.abs((b * 31 + v).toInt) % 3 == k }.toDF("b", "v")
      }, Map.empty: Eval.BucketSums)(
      Eval.ewmaBatchUpdate(_, col("v"), col("b"), _, window = 3))
      .last.collect().toSeq
    assert(out === oneShot, s"fold\n${out.mkString("\n")}\nvs\n" +
      oneShot.mkString("\n"))
  }

  test("kmvSetOps: exact below k; merge equals the union-stream sketch") {
    val s = spark
    import s.implicits._
    // A = 1..10, B = 6..12: union 12, intersection 5
    val rows = (1L to 10L).map(u => (u, true, false)) ++
      (6L to 12L).map(u => (u, false, true))
    val df = rows.toDF("u", "a", "b")
    val r = Eval.kmvSetOps(df, col("u"), col("a"), col("b"),
      k = 64).head()
    assert(r.getLong(0) === 10L && r.getLong(1) === 7L &&
      r.getLong(2) === 12L && r.getLong(3) === 5L)
    // sketches below k ARE the distinct sets → both estimates exact
    assert(r.getDouble(4) === 12.0 && r.getDouble(5) === 5.0, s"$r")
    // overflowing sketches (k=4): the union estimate must equal the
    // estimate of the sketch built over the UNION stream directly —
    // sketch-of-union == merge-of-sketches, the algebra being claimed
    val r4 = Eval.kmvSetOps(df, col("u"), col("a"), col("b"),
      k = 4).head()
    val unionSk = df.select(graft.pipeline.Dedup.md5Long60(
        col("u").cast("string")).as("h"))
      .agg(graft.functions.KMinValues.agg(4, col("h")))
      .head().getSeq[Long](0)
    val expected = BigDecimal(
      graft.functions.KMinValues.estimateOf(unionSk, 4))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r4.getDouble(4) === expected, s"union est: $r4")
    // disjoint segments: zero intersection, exactly
    val dis = ((1L to 3L).map(u => (u, true, false)) ++
      (5L to 7L).map(u => (u, false, true))).toDF("u", "a", "b")
    val d = Eval.kmvSetOps(dis, col("u"), col("a"), col("b"),
      k = 64).head()
    assert(d.getLong(3) === 0L && d.getDouble(5) === 0.0)
  }

  test("kmvSetOps above k: planted overlap, estimates within tolerance") {
    // A = [0, 2000), B = [1500, 3500): union 3500 and intersection 500
    // by construction, both past k = 1024, so the estimates come from
    // overflowing sketches (union σ ≈ 3%; the intersection inherits
    // the sampled Jaccard's noise). The md5 hash fixes every estimate.
    val df = spark.range(3500).select(col("id").as("u"),
      (col("id") < 2000L).as("a"), (col("id") >= 1500L).as("b"))
    val r = Eval.kmvSetOps(df, col("u"), col("a"), col("b"), k = 1024)
      .head()
    assert(r.getLong(2) === 3500L && r.getLong(3) === 500L, s"$r")
    assert(math.abs(r.getDouble(4) / 3500.0 - 1.0) < 0.15, s"$r")
    assert(math.abs(r.getDouble(5) / 500.0 - 1.0) < 0.30, s"$r")
  }

  test("mcnemar: golden counts and the never-disagree contract") {
    val s = spark
    import s.implicits._
    def run(rows: Seq[(java.lang.Boolean, java.lang.Boolean)]) =
      Eval.mcnemar(rows.toDF("a", "b"), col("a"), col("b")).head()
    val T = java.lang.Boolean.TRUE
    val F = java.lang.Boolean.FALSE
    // b = 5, c = 1 → χ² = (|5−1|−1)²/6 = 9/6 = 1.5
    val g = run(Seq.fill(5)((T, F)) ++ Seq((F, T)) ++
      Seq.fill(3)((T, T)) ++ Seq.fill(2)((F, F)))
    assert(g.getLong(0) === 11L && g.getLong(1) === 5L &&
      g.getLong(2) === 1L)
    assert(g.getDouble(3) === 1.5, s"chi2: $g")
    // b = c: |b−c|−1 clamps at 0 (continuity never goes negative)
    assert(run(Seq((T, F), (F, T))).getDouble(3) === 0.0)
    // never disagree → χ² undefined, NULL not NaN
    val agree = run(Seq((T, T), (F, F)))
    assert(agree.isNullAt(3), s"expected null chi2: $agree")
    // NULL correctness flags drop (the abstention contract)
    val withNull = run(Seq((T, F), (null, T), (T, null), (F, F)))
    assert(withNull.getLong(0) === 2L && withNull.getLong(1) === 1L)
  }
}
