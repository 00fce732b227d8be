package graft

import graft.pipeline.{Eval, GraphOps}
import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Prop, Properties, Test}

/** ScalaCheck differentials for the round-10 two-sample / graph-shape
  * family: random inputs vs independent in-memory references that
  * re-derive every statistic through the SAME single-division IEEE op
  * order the operators contract to — so doubles compare for exact
  * equality, not tolerance. Each case runs real Spark jobs — small
  * sample counts (the DedupProperties convention). */
object StatProperties extends Properties("graft.stat") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(6).withMaxDiscardRatio(10)

  private lazy val spark = SparkTestSession.spark

  private def r6(x: Double): Double = BigDecimal(x)
    .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  // values on a small grid so ties are GUARANTEED (the midrank and
  // tie-correction machinery is the thing under test)
  private val genSamples: Gen[List[(Double, Boolean)]] = for {
    n <- Gen.choose(3, 24)
    rows <- Gen.listOfN(n, for {
      v <- Gen.choose(0, 6)
      a <- Gen.oneOf(true, false)
    } yield (v.toDouble, a))
  } yield rows

  /** In-memory Mann–Whitney: doubled midranks from the sorted
    * distinct-value running sum, then the operator's own closed
    * forms in BigInt-exact arithmetic. */
  private def refMw(rows: List[(Double, Boolean)])
      : (Long, Long, Long, Long, Option[Double]) = {
    val byV = rows.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (v, g) =>
        (v, BigInt(g.size), BigInt(g.count(_._2))) }
    var cum = BigInt(0)
    var (ra2, t) = (BigInt(0), BigInt(0))
    byV.foreach { case (_, c, ca) =>
      val r2 = 2 * cum + c + 1
      ra2 += ca * r2
      t += c * c * c - c
      cum += c
    }
    val n = BigInt(rows.size)
    val na = BigInt(rows.count(_._2))
    val nb = n - na
    val u2 = ra2 - na * (na + 1)
    val z =
      if (n < 2) None
      else {
        val den = math.sqrt((na * nb).doubleValue *
          (n * n * n - n - t).doubleValue /
          (3 * n * (n - 1)).doubleValue)
        if (den == 0.0) None
        else Some(r6((u2 - na * nb).doubleValue / den))
      }
    (na.toLong, nb.toLong, u2.toLong, t.toLong, z)
  }

  property("mannWhitneyU equals the in-memory midrank reference at " +
    "every cell count") =
    Prop.forAll(genSamples, Gen.oneOf(1, 2, 7, 1024)) { (rows, cells) =>
      val s = spark
      import s.implicits._
      val (na, nb, u2, t, z) = refMw(rows)
      val r = Eval.mannWhitneyU(rows.toDF("v", "a"), col("v"),
        col("a"), cells).head()
      val gotZ = if (r.isNullAt(4)) None else Some(r.getDouble(4))
      Prop(r.getLong(0) == na && r.getLong(1) == nb &&
        r.getLong(2) == u2 && r.getLong(3) == t && gotZ == z) :|
        s"cells=$cells got=$r want=($na,$nb,$u2,$t,$z)"
    }

  /** In-memory Welch through the operator's three one-division
    * doubles. */
  private def refWelch(rows: List[(Long, Boolean)])
      : (Long, Long, Option[Double], Option[Double]) = {
    val a = rows.filter(_._2).map(r => BigInt(r._1))
    val b = rows.filterNot(_._2).map(r => BigInt(r._1))
    val (na, nb) = (BigInt(a.size), BigInt(b.size))
    if (na < 2 || nb < 2) return (na.toLong, nb.toLong, None, None)
    val (sx, sxx) = (a.sum, a.map(x => x * x).sum)
    val (sy, syy) = (b.sum, b.map(x => x * x).sum)
    val va = (na * sxx - sx * sx).doubleValue /
      (na * na * (na - 1)).doubleValue
    val vb = (nb * syy - sy * sy).doubleValue /
      (nb * nb * (nb - 1)).doubleValue
    val d = (sx * nb - sy * na).doubleValue / (na * nb).doubleValue
    val den = math.sqrt(va + vb)
    val tStat = if (den == 0.0) None else Some(r6(d / den))
    val dfDen = va * va / (na - 1).doubleValue +
      vb * vb / (nb - 1).doubleValue
    val df = if (dfDen == 0.0) None
      else Some(r6((va + vb) * (va + vb) / dfDen))
    (na.toLong, nb.toLong, tStat, df)
  }

  property("welchT equals the in-memory single-division reference") =
    Prop.forAll(Gen.choose(2, 20).flatMap(n =>
      Gen.listOfN(n, for {
        v <- Gen.choose(-5L, 5L)
        a <- Gen.oneOf(true, false)
      } yield (v, a)))) { rows =>
      val s = spark
      import s.implicits._
      val (na, nb, t, df) = refWelch(rows)
      val r = Eval.welchT(rows.toDF("v", "a"), col("v"), col("a"))
        .head()
      val gotT = if (r.isNullAt(2)) None else Some(r.getDouble(2))
      val gotDf = if (r.isNullAt(3)) None else Some(r.getDouble(3))
      Prop(r.getLong(0) == na && r.getLong(1) == nb &&
        gotT == t && gotDf == df) :|
        s"got=$r want=($na,$nb,$t,$df)"
    }

  property("groupedMannWhitneyU equals per-group mannWhitneyU") =
    Prop.forAll(Gen.choose(4, 24).flatMap(n =>
      Gen.listOfN(n, for {
        g <- Gen.oneOf("p", "q", "r")
        v <- Gen.choose(0, 6)
        a <- Gen.oneOf(true, false)
      } yield (g, v.toDouble, a))),
      Gen.oneOf(1, 3, 1024)) { (rows, cells) =>
      val s = spark
      import s.implicits._
      val got = Eval.groupedMannWhitneyU(rows.toDF("g", "v", "a"),
          col("v"), col("a"), col("g"), cells)
        .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
      val want = rows.groupBy(_._1).map { case (g, grp) =>
        g -> Eval.mannWhitneyU(
          grp.map(t => (t._2, t._3)).toDF("v", "a"),
          col("v"), col("a"), cells).head().toSeq
      }
      Prop(got == want) :| s"cells=$cells got=$got want=$want"
    }

  property("groupedWelchT equals per-group welchT") =
    Prop.forAll(Gen.choose(4, 24).flatMap(n =>
      Gen.listOfN(n, for {
        g <- Gen.oneOf("p", "q", "r")
        v <- Gen.choose(-5L, 5L)
        a <- Gen.oneOf(true, false)
      } yield (g, v, a)))) { rows =>
      val s = spark
      import s.implicits._
      val got = Eval.groupedWelchT(rows.toDF("g", "v", "a"),
          col("v"), col("a"), col("g"))
        .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
      val want = rows.groupBy(_._1).map { case (g, grp) =>
        g -> Eval.welchT(grp.map(t => (t._2, t._3)).toDF("v", "a"),
          col("v"), col("a")).head().toSeq
      }
      Prop(got == want) :| s"got=$got want=$want"
    }

  property("mwAgainstReference equals mannWhitneyU over the " +
    "equivalent row union") =
    Prop.forAll(genSamples) { rows =>
      val s = spark
      import s.implicits._
      // group A = the "batch", group B = the "reference"
      val batch = rows.filter(_._2).map(_._1)
      val ref = rows.filterNot(_._2).map(_._1)
      val refC = Eval.referenceValueCounts(ref.toDF("x"), col("x"))
      val viaRef = Eval.mwAgainstReference(batch.toDF("x"), refC,
        col("x")).head()
      val viaRows = Eval.mannWhitneyU(rows.toDF("v", "a"), col("v"),
        col("a")).head()
      Prop(viaRef.toSeq == viaRows.toSeq) :|
        s"ref=$viaRef rows=$viaRows"
    }

  property("cusumChangepoint equals the in-memory argmax reference") =
    Prop.forAll(Gen.choose(1, 20).flatMap(n =>
      Gen.listOfN(n, for {
        b <- Gen.choose(0L, 5L)
        v <- Gen.choose(-9L, 9L)
      } yield (b, v)))) { rows =>
      val s = spark
      import s.implicits._
      val byB = rows.groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (b, g) =>
          (b, BigInt(g.size), g.map(r => BigInt(r._2)).sum) }
      val t = byB.map(_._2).sum
      val sTot = byB.map(_._3).sum
      var (cc, cs) = (BigInt(0), BigInt(0))
      val ds = byB.map { case (b, c, sv) =>
        cc += c; cs += sv
        (b, t * cs - sTot * cc)
      }
      val (wantB, wantD) = ds.minBy { case (b, d) => (-d.abs, b) }
      val r = Eval.cusumChangepoint(rows.toDF("b", "v"), col("v"),
        col("b")).head()
      Prop(r.getLong(0) == wantB && r.getLong(1) == byB.size &&
        r.getDouble(2) == wantD.doubleValue) :|
        s"got=$r want=($wantB,${byB.size},$wantD)"
    }

  property("cusumBatchUpdate fold equals the one-shot changepoint " +
    "on every prefix-free split") =
    Prop.forAll(Gen.choose(2, 16).flatMap(n =>
      Gen.listOfN(n, for {
        b <- Gen.choose(0L, 4L)
        v <- Gen.choose(-9L, 9L)
      } yield (b, v))), Gen.choose(2, 4)) { (rows, nBatches) =>
      val s = spark
      import s.implicits._
      val last = graft.streaming.Monitor.replay(
        (0 until nBatches).map { i =>
          rows.zipWithIndex.filter(_._2 % nBatches == i).map(_._1)
            .toDF("b", "v")
        }, Map.empty: Eval.BucketSums)(
        Eval.cusumBatchUpdate(_, col("v"), col("b"), _)).last.head()
      val oneShot = Eval.cusumChangepoint(rows.toDF("b", "v"),
        col("v"), col("b")).head()
      Prop(last.toSeq == oneShot.toSeq) :|
        s"nBatches=$nBatches fold=$last oneShot=$oneShot"
    }

  // small random multigraphs WITH duplicates, reversals, self-loops —
  // normalization is part of the contract under test
  private val genEdges: Gen[List[(Long, Long)]] = for {
    n <- Gen.choose(2, 14)
    es <- Gen.listOfN(n, for {
      a <- Gen.choose(0L, 7L)
      b <- Gen.choose(0L, 7L)
    } yield (a, b))
  } yield es

  private def normalize(es: List[(Long, Long)]): Set[(Long, Long)] =
    es.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter { case (a, b) => a != b }.toSet

  /** In-memory assortativity through the operator's op order. */
  private def refAssort(es: List[(Long, Long)])
      : (Long, Option[Double]) = {
    val te = normalize(es)
    val deg = te.toSeq.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).view.mapValues(v => BigInt(v.size)).toMap
    val xs = te.toSeq.flatMap { case (a, b) =>
      Seq((deg(a), deg(b)), (deg(b), deg(a))) }
    val n = BigInt(xs.size)
    if (n == 0) return (0L, None)
    val sx = xs.map(_._1).sum
    val sy = xs.map(_._2).sum
    val sxy = xs.map(p => p._1 * p._2).sum
    val sxx = xs.map(p => p._1 * p._1).sum
    val syy = xs.map(p => p._2 * p._2).sum
    val den = math.sqrt((n * sxx - sx * sx).doubleValue *
      (n * syy - sy * sy).doubleValue)
    val r = if (den == 0.0) None
      else Some(r6((n * sxy - sx * sy).doubleValue / den))
    (n.toLong, r)
  }

  property("degreeAssortativity equals the in-memory Pearson " +
    "reference on noisy multigraphs") =
    Prop.forAll(genEdges) { es =>
      val s = spark
      import s.implicits._
      val (n, want) = refAssort(es)
      val r = GraphOps.degreeAssortativity(es.toDF("id_a", "id_b"),
        "id_a", "id_b").head()
      val got = if (r.isNullAt(1)) None else Some(r.getDouble(1))
      Prop(r.getLong(0) == n && got == want) :|
        s"edges=$es got=$r want=($n,$want)"
    }

  /** Synchronous min-tie-break LPA (the GraphOpsSpec refLpa
    * semantics) feeding the exact in-memory Q. */
  private def refModularity(es: List[(Long, Long)], rounds: Int)
      : (Long, Long, Option[Double]) = {
    val te = normalize(es)
    if (te.isEmpty) return (0L, 0L, None)
    val adj = te.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupMap(_._1)(_._2)
    var lab: Map[Long, Long] = adj.keys.map(i => i -> i).toMap
    (1 to rounds).foreach { _ =>
      lab = adj.map { case (v, ns) =>
        val counts = ns.groupBy(lab).view.mapValues(_.size)
        v -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    val deg = adj.view.mapValues(ns => BigInt(ns.size)).toMap
    val dc = lab.groupMapReduce(_._2)(kv => deg(kv._1))(_ + _)
    val sTot = dc.values.sum
    val smc = te.toSeq.map(e =>
      BigInt(if (lab(e._1) == lab(e._2)) 1 else 0)).sum
    val sdc2 = dc.values.map(d => d * d).sum
    val q = r6((2 * sTot * smc - sdc2).doubleValue /
      (sTot * sTot).doubleValue)
    ((sTot / 2).toLong, dc.size.toLong, Some(q))
  }

  property("modularity equals the in-memory LPA+Q reference on " +
    "noisy multigraphs") =
    Prop.forAll(genEdges, Gen.oneOf(1, 2, 3)) { (es, rounds) =>
      val s = spark
      import s.implicits._
      val (m, ncomm, want) = refModularity(es, rounds)
      val r = GraphOps.modularity(es.toDF("id_a", "id_b"),
        "id_a", "id_b", rounds).head()
      val got = if (r.isNullAt(2)) None else Some(r.getDouble(2))
      Prop(r.getLong(0) == m && r.getLong(1) == ncomm &&
        got == want) :|
        s"edges=$es rounds=$rounds got=$r want=($m,$ncomm,$want)"
    }

  // ---- round-11 continuation: normality / blocked / paired-k /
  // series differentials -------------------------------------------

  private def r0(x: Double): Long = BigDecimal(x)
    .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  /** In-memory Jarque–Bera through the operator's mirrored-double op
    * order over BigInt-exact power sums. */
  private def refJb(vs: List[Long])
      : (Long, Option[Double], Option[Double], Option[Double]) = {
    val n = vs.size
    if (n == 0) return (0L, None, None, None)
    val bs = vs.map(BigInt(_))
    val (s1, s2) = (bs.sum, bs.map(x => x * x).sum)
    val (s3, s4) = (bs.map(x => x * x * x).sum,
      bs.map(x => x * x * x * x).sum)
    val nD = n.toDouble
    val mu = s1.doubleValue / nD
    val m2 = s2.doubleValue / nD - mu * mu
    val m3 = s3.doubleValue / nD - 3.0 * mu * (s2.doubleValue / nD) +
      2.0 * mu * mu * mu
    val m4 = s4.doubleValue / nD - 4.0 * mu * (s3.doubleValue / nD) +
      6.0 * (mu * mu) * (s2.doubleValue / nD) -
      3.0 * (mu * mu) * (mu * mu)
    if (n < 2 || !(m2 > 0)) return (n.toLong, None, None, None)
    val skew = m3 / (m2 * math.sqrt(m2))
    val kurt = m4 / (m2 * m2)
    val jb = nD / 6.0 *
      (skew * skew + (kurt - 3.0) * (kurt - 3.0) / 4.0)
    (n.toLong, Some(r6(skew)), Some(r6(kurt)), Some(r6(jb)))
  }

  property("jarqueBera equals the in-memory power-sum reference") =
    Prop.forAll(Gen.choose(1, 20).flatMap(n =>
      Gen.listOfN(n, Gen.choose(0L, 8L)))) { vs =>
      val s = spark
      import s.implicits._
      val (n, skew, kurt, jb) = refJb(vs)
      val r = Eval.jarqueBera(vs.toDF("v"), col("v")).head()
      def opt(i: Int) = if (r.isNullAt(i)) None else Some(r.getDouble(i))
      Prop(r.getLong(0) == n && opt(2) == skew && opt(3) == kurt &&
        opt(4) == jb) :| s"vs=$vs got=$r want=($n,$skew,$kurt,$jb)"
    }

  /** In-memory Friedman: cell means via the operator's rounded
    * division, complete blocks only, doubled midranks, exact-integer
    * Q into one division. */
  private def refFriedman(rows: List[(Long, String, Long)])
      : (Long, Long, Option[Double]) = {
    val cells = rows.groupBy(r => (r._1, r._2)).toList
      .map { case ((b, t), g) =>
        (b, t, r0(g.map(x => BigInt(x._3)).sum.doubleValue / g.size))
      }
    val k = cells.map(_._2).distinct.size
    val complete = cells.groupBy(_._1).values.filter(_.size == k)
    val n = complete.size
    var a2 = BigInt(0)
    val r2sums = scala.collection.mutable.Map.empty[String, BigInt]
    complete.foreach { block =>
      val ms = block.map(_._3)
      block.foreach { case (_, t, m) =>
        val r2 = BigInt(2 * ms.count(_ < m) + ms.count(_ == m) + 1)
        a2 += r2 * r2
        r2sums(t) = r2sums.getOrElse(t, BigInt(0)) + r2
      }
    }
    val denom = a2 - BigInt(n.toLong) * k * (k + 1) * (k + 1)
    val num = r2sums.values
      .map(rj => (rj - BigInt(n.toLong) * (k + 1)))
      .map(d => d * d).sum
    val q = if (k >= 2 && n >= 1 && denom > 0)
      Some(r6((k - 1).toDouble * num.doubleValue / denom.doubleValue))
    else None
    (k.toLong, n.toLong, q)
  }

  property("friedmanQ equals the in-memory doubled-midrank reference") =
    Prop.forAll(Gen.choose(3, 16).flatMap(n =>
      Gen.listOfN(n, for {
        b <- Gen.choose(1L, 4L)
        t <- Gen.oneOf("a", "b", "c")
        v <- Gen.choose(0L, 5L)
      } yield (b, t, v)))) { rows =>
      val s = spark
      import s.implicits._
      val (k, n, q) = refFriedman(rows)
      val r = Eval.friedmanQ(rows.toDF("b", "t", "v"), col("v"),
        col("b"), col("t")).head()
      val got = if (r.isNullAt(2)) None else Some(r.getDouble(2))
      Prop(r.getLong(0) == k && r.getLong(1) == n && got == q) :|
        s"rows=$rows got=$r want=($k,$n,$q)"
    }

  property("cochranQ equals the exact-integer formula on random " +
    "binary panels") =
    Prop.forAll(Gen.choose(1, 15).flatMap(n =>
      Gen.listOfN(n, Gen.listOfN(3, Gen.oneOf(0L, 1L))))) { panel =>
      val s = spark
      import s.implicits._
      val k = 3
      val cj = (0 until k).map(j => BigInt(panel.map(_(j)).sum))
      val bigN = cj.sum
      val r2 = panel.map(row => BigInt(row.sum)).map(x => x * x).sum
      val denom = BigInt(k) * bigN - r2
      val num = BigInt(k) * cj.map(c => c * c).sum - bigN * bigN
      val want = if (denom > 0)
        Some(r6((k - 1).toDouble * num.doubleValue / denom.doubleValue))
      else None
      val r = Eval.cochranQ(
        panel.map(p => (p(0), p(1), p(2))).toDF("a", "b", "c"),
        Seq(col("a"), col("b"), col("c"))).head()
      val got = if (r.isNullAt(2)) None else Some(r.getDouble(2))
      Prop(r.getLong(0) == panel.size.toLong && got == want) :|
        s"panel=$panel got=$r want=$want"
    }

  // bucket series with gaps AND duplicate buckets (the mean path)
  private val genSeries: Gen[List[(Long, Long)]] = for {
    n <- Gen.choose(1, 14)
    rows <- Gen.listOfN(n, for {
      x <- Gen.choose(0L, 11L)
      v <- Gen.choose(0L, 6L)
    } yield (x, v))
  } yield rows

  private def seriesMeans(rows: List[(Long, Long)]): List[(Long, Long)] =
    rows.groupBy(_._1).toList.sortBy(_._1).map { case (x, g) =>
      (x, r0(g.map(r => BigInt(r._2)).sum.doubleValue / g.size))
    }

  /** In-memory gap-aware ACF + Ljung–Box through the operators'
    * mirrored op order. */
  private def refAcfLb(rows: List[(Long, Long)], maxLag: Int)
      : (List[(Long, Long, Option[Double])], (Long, Long, Long)) = {
    val mm = seriesMeans(rows)
    val n = mm.size
    val sSum = mm.map(_._2).sum
    val dev = mm.map { case (x, m) =>
      (x, BigInt(n.toLong) * m - sSum) }.toMap
    val den = dev.values.map(d => d * d).sum
    val acfs = (1 to maxLag).flatMap { lag =>
      val pairs = dev.keys.toList.filter(x => dev.contains(x + lag))
      if (pairs.isEmpty) None
      else {
        val num = pairs.map(x => dev(x) * dev(x + lag)).sum
        val a = if (den > 0)
          Some(r6(num.doubleValue / den.doubleValue)) else None
        Some((lag.toLong, pairs.size.toLong, a))
      }
    }.toList
    val nD = n.toDouble
    val terms = acfs.collect {
      case (lag, _, Some(a)) if lag < n =>
        r0(1e6 * nD * (n + 2).toDouble * (a * a) / (nD - lag.toDouble))
    }
    (acfs, (n.toLong, terms.size.toLong, terms.sum))
  }

  property("acf + ljungBox equal the in-memory gap-aware reference") =
    Prop.forAll(genSeries, Gen.oneOf(2, 5, 8)) { (rows, maxLag) =>
      val s = spark
      import s.implicits._
      val (wantAcf, (n, nLags, lb)) = refAcfLb(rows, maxLag)
      val df = rows.toDF("b", "v")
      val gotAcf = Eval.acf(df, col("v"), col("b"), maxLag)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toList
      val lbRow = Eval.ljungBox(df, col("v"), col("b"), maxLag).head()
      Prop(gotAcf == wantAcf && lbRow.getLong(0) == n &&
        lbRow.getLong(1) == nLags && lbRow.getLong(2) == lb) :|
        s"rows=$rows got=$gotAcf/$lbRow want=$wantAcf/($n,$nLags,$lb)"
    }

  /** In-memory EWMA forecast + MASE through the operators' exact
    * integer weights and mirrored divisions. */
  private def refEwmaMase(rows: List[(Long, Long)], window: Int)
      : (List[(Long, Long, Long, Long)],
         (Long, Long, Option[Long], Option[Long], Option[Double])) = {
    val mm = seriesMeans(rows)
    val byX = mm.toMap
    val fc = mm.flatMap { case (x, m) =>
      val past = (1 to window).flatMap(j =>
        byX.get(x - j).map(pm => (BigInt(pm), BigInt(2).pow(window - j))))
      if (past.isEmpty) None
      else {
        val num = past.map { case (pm, w) => pm * w }.sum
        val den = past.map(_._2).sum
        val f = r0(num.doubleValue / den.doubleValue)
        Some((x, m, f, m - f))
      }
    }
    val (nf, sf) = (fc.size.toLong,
      fc.map(r => math.abs(r._4)).sum)
    val diffs = mm.map(_._2).sliding(2).filter(_.size == 2)
      .map(p => math.abs(p(1) - p(0))).toList
    val (nn, sn) = (diffs.size.toLong, diffs.sum)
    val maeF = if (nf > 0) Some(r0(sf.toDouble / nf)) else None
    val maeN = if (nn > 0) Some(math.round(sn.toDouble / nn)) else None
    val mase = if (nf > 0 && sn > 0)
      Some(r6(sf.toDouble * nn.toDouble / (sn.toDouble * nf.toDouble)))
    else None
    (fc, (nf, nn, maeF, maeN, mase))
  }

  /** In-memory tie-adjusted two-sample Anderson–Darling through the
    * operator's doubled-midpoint integers and per-term division op
    * order. */
  private def refAd(rows: List[(Double, Boolean)])
      : (Long, Long, Long, Option[Long]) = {
    val byV = rows.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, g) => (BigInt(g.size), BigInt(g.count(_._2))) }
    val n = BigInt(rows.size)
    val na = byV.map(_._2).sum
    val nb = n - na
    val nv = byV.size
    if (na == 0 || nb == 0 || nv < 2)
      return (na.toLong, nb.toLong, nv.toLong, None)
    var (cum, cumA, cumB) = (BigInt(0), BigInt(0), BigInt(0))
    var ad = 0L
    byV.foreach { case (l, la) =>
      val lb = l - la
      val b2 = 2 * cum + l
      val ma2 = 2 * cumA + la
      val mb2 = 2 * cumB + lb
      val den = b2 * (2 * n - b2) - n * l
      def term(m2: BigInt, ni: BigInt): Long = {
        val x = n * m2 - ni * b2
        r0(1e6 * ((n - 1) * l * x * x).doubleValue /
          (n * n * ni * den).doubleValue)
      }
      ad += term(ma2, na) + term(mb2, nb)
      cum += l; cumA += la; cumB += lb
    }
    (na.toLong, nb.toLong, nv.toLong, Some(ad))
  }

  property("andersonDarling2 equals the in-memory midpoint reference") =
    Prop.forAll(genSamples) { rows =>
      val s = spark
      import s.implicits._
      val (na, nb, nv, ad) = refAd(rows)
      val r = Eval.andersonDarling2(rows.toDF("v", "a"), col("v"),
        col("a")).head()
      val got = if (r.isNullAt(3)) None else Some(r.getLong(3))
      Prop(r.getLong(0) == na && r.getLong(1) == nb &&
        r.getLong(2) == nv && got == ad) :|
        s"rows=$rows got=$r want=($na,$nb,$nv,$ad)"
    }

  /** In-memory energy distance by brute-force pairwise sums through
    * the operator's single final division. */
  private def refEnergy(rows: List[(Long, Boolean)])
      : (Long, Long, Option[Double]) = {
    val a = rows.filter(_._2).map(r => BigInt(r._1))
    val b = rows.filterNot(_._2).map(r => BigInt(r._1))
    val (na, nb) = (BigInt(a.size), BigInt(b.size))
    if (na == 0 || nb == 0) return (na.toLong, nb.toLong, None)
    def cross(u: List[BigInt], v: List[BigInt]): BigInt =
      (for (x <- u; y <- v) yield (x - y).abs).sum
    val num = 2 * cross(a, b) * na * nb -
      cross(a, a) * nb * nb - cross(b, b) * na * na
    val den = na * na * nb * nb
    (na.toLong, nb.toLong,
      Some(r6(num.doubleValue / den.doubleValue)))
  }

  property("energyDistance equals the brute-force pairwise reference") =
    Prop.forAll(Gen.choose(2, 18).flatMap(n =>
      Gen.listOfN(n, for {
        v <- Gen.choose(0L, 6L)
        a <- Gen.oneOf(true, false)
      } yield (v, a)))) { rows =>
      val s = spark
      import s.implicits._
      val (na, nb, e) = refEnergy(rows)
      val r = Eval.energyDistance(rows.toDF("v", "a"), col("v"),
        col("a")).head()
      val got = if (r.isNullAt(2)) None else Some(r.getDouble(2))
      Prop(r.getLong(0) == na && r.getLong(1) == nb && got == e) :|
        s"rows=$rows got=$r want=($na,$nb,$e)"
    }

  property("ewmaForecast + forecastMase equal the in-memory " +
    "power-of-2 reference") =
    Prop.forAll(genSeries, Gen.oneOf(1, 3, 16)) { (rows, window) =>
      val s = spark
      import s.implicits._
      val (wantFc, (nf, nn, maeF, maeN, mase)) =
        refEwmaMase(rows, window)
      val df = rows.toDF("b", "v")
      val gotFc = Eval.ewmaForecast(df, col("v"), col("b"), window)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getLong(2), r.getLong(3))).toList
      val m = Eval.forecastMase(df, col("v"), col("b"), window).head()
      def optL(i: Int) = if (m.isNullAt(i)) None else Some(m.getLong(i))
      val gotMase = if (m.isNullAt(4)) None else Some(m.getDouble(4))
      Prop(gotFc == wantFc && m.getLong(0) == nf &&
        m.getLong(1) == nn && optL(2) == maeF && optL(3) == maeN &&
        gotMase == mase) :|
        s"rows=$rows window=$window got=$gotFc/$m " +
        s"want=$wantFc/($nf,$nn,$maeF,$maeN,$mase)"
    }
}
