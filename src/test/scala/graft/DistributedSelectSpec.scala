package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.ops.DistributedSelect
import org.scalatest.funsuite.AnyFunSuite

class DistributedSelectSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("kthSmallest: exact order statistics, duplicates, extremes") {
    val s = spark
    import s.implicits._
    // duplicates + unsorted; sorted: 1,2,2,3,3,3,7,9,9,11
    val vals = Seq(9.0, 3.0, 2.0, 11.0, 3.0, 1.0, 7.0, 9.0, 2.0, 3.0)
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "v")
    val sorted = vals.sorted
    (1 to vals.length).foreach { k =>
      // threshold 2 forces real narrowing rounds for most k
      val (got, _) = DistributedSelect.kthSmallest(df, "v", k,
        buckets = 4, threshold = 2)
      assert(got === sorted(k - 1), s"k=$k")
    }
  }

  test("kthSmallest: all-equal values collapse the range") {
    val s = spark
    import s.implicits._
    val df = (1L to 100L).map((_, 42.5)).toDF("id", "v")
    val (got, _) = DistributedSelect.kthSmallest(df, "v", 50,
      buckets = 8, threshold = 10)
    assert(got === 42.5)
  }

  test("kthSmallest: nulls and NaN are excluded; k out of range throws") {
    val s = spark
    import s.implicits._
    val df = Seq[(Long, java.lang.Double)]((1L, 5.0), (2L, null),
      (3L, Double.NaN), (4L, 1.0), (5L, 3.0)).toDF("id", "v")
    val (got, _) = DistributedSelect.kthSmallest(df, "v", 3,
      buckets = 4, threshold = 1)
    assert(got === 5.0) // comparable values are 1, 3, 5
    intercept[IllegalArgumentException] {
      DistributedSelect.kthSmallest(df, "v", 4, buckets = 4,
        threshold = 1)
    }
  }

  test("exactQuantile median matches the sorted reference") {
    val s = spark
    import s.implicits._
    // 1001 distinct values, shuffled deterministically by hash-ish key
    val vals = (1 to 1001).map(i => ((i * 137) % 1009).toDouble)
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "v")
    val r = DistributedSelect.exactQuantile(df, "v", 0.5,
      buckets = 16, threshold = 50).head()
    val sorted = vals.sorted
    val k = math.ceil(0.5 * vals.length).toLong
    assert(r.getDouble(0) === sorted(k.toInt - 1))
    assert(r.getLong(1) === vals.length.toLong)
    assert(r.getLong(2) === k)
  }

  test("kthSmallest: ±Infinity stays in the multiset and resolves exactly") {
    val s = spark
    import s.implicits._
    val ninf = Double.NegativeInfinity
    val pinf = Double.PositiveInfinity
    // sorted: -Inf, -Inf, 1, 2, 3, +Inf  (NaN/null excluded)
    val df = Seq[(Long, java.lang.Double)]((1L, 3.0), (2L, ninf),
      (3L, pinf), (4L, 1.0), (5L, ninf), (6L, 2.0), (7L, Double.NaN),
      (8L, null)).toDF("id", "v")
    val sorted = Seq(ninf, ninf, 1.0, 2.0, 3.0, pinf)
    (1 to 6).foreach { k =>
      val (got, _) = DistributedSelect.kthSmallest(df, "v", k,
        buckets = 4, threshold = 2)
      assert(got === sorted(k - 1), s"k=$k")
    }
    intercept[IllegalArgumentException] {
      DistributedSelect.kthSmallest(df, "v", 7, buckets = 4,
        threshold = 2)
    }
  }

  test("kthSmallest: oversized threshold fails loudly, never truncates") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v")
    intercept[IllegalArgumentException] {
      DistributedSelect.kthSmallest(df, "v", 1,
        threshold = Int.MaxValue.toLong + 1)
    }
  }

  test("weightedKthSmallest: every k matches the weight-expanded reference") {
    val s = spark
    import s.implicits._
    // duplicate values + varied integer weights; reference = expand
    // each row into w copies and index the sorted multiset
    val rows = Seq((9.0, 3L), (3.0, 1L), (2.0, 4L), (11.0, 2L),
      (3.0, 2L), (1.0, 1L), (7.0, 5L), (2.0, 1L))
    val df = rows.zipWithIndex.map { case ((v, w), i) =>
      (i.toLong, v, w) }.toDF("id", "v", "w")
    val expanded = rows.flatMap { case (v, w) =>
      Seq.fill(w.toInt)(v) }.sorted
    (1 to expanded.length).foreach { k =>
      val (got, _) = DistributedSelect.weightedKthSmallest(df, "v", "w",
        k, buckets = 4, threshold = 2)
      assert(got === expanded(k - 1), s"k=$k")
    }
    intercept[IllegalArgumentException] {
      DistributedSelect.weightedKthSmallest(df, "v", "w",
        expanded.length + 1L, buckets = 4, threshold = 2)
    }
    // non-positive / null weights are rejected loudly
    intercept[IllegalArgumentException] {
      DistributedSelect.weightedKthSmallest(
        Seq((1L, 1.0, 0L)).toDF("id", "v", "w"), "v", "w", 1)
    }
  }

  test("exactWeightedQuantile: golden weighted median and ±Infinity masses") {
    val s = spark
    import s.implicits._
    // W = 10; k = ceil(0.5·10) = 5; expanded sorted:
    // 1,1,1,2,2,2,2,5,5,5 → 5th = 2
    val df = Seq((1L, 1.0, 3L), (2L, 5.0, 3L), (3L, 2.0, 4L))
      .toDF("id", "v", "w")
    val r = DistributedSelect.exactWeightedQuantile(df, "v", "w", 0.5,
      buckets = 4, threshold = 2).head()
    assert(r.getDouble(0) === 2.0)
    assert(r.getLong(1) === 10L && r.getLong(2) === 5L)
    // infinite masses resolve by weight position
    val inf = Seq((1L, Double.NegativeInfinity, 3L), (2L, 1.0, 1L),
      (3L, Double.PositiveInfinity, 2L)).toDF("id", "v", "w")
    val (a, _) = DistributedSelect.weightedKthSmallest(inf, "v", "w", 3)
    val (b, _) = DistributedSelect.weightedKthSmallest(inf, "v", "w", 4)
    val (c, _) = DistributedSelect.weightedKthSmallest(inf, "v", "w", 5)
    assert(a === Double.NegativeInfinity)
    assert(b === 1.0)
    assert(c === Double.PositiveInfinity)
  }

  test("groupedWeightedQuantile: every group matches its own expansion") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(42)
    // three groups with very different sizes/ranges so they resolve in
    // different rounds; tight threshold forces real narrowing
    val rows = (1 to 400).map(i => ("a", rng.nextInt(1000).toDouble,
        1L + rng.nextInt(5))) ++
      (1 to 40).map(i => ("b", -50.0 + rng.nextInt(100),
        1L + rng.nextInt(3))) ++
      Seq(("c", 7.0, 2L), ("c", 3.0, 1L))
    val df = rows.zipWithIndex.map { case ((g, v, w), i) =>
      (i.toLong, g, v, w) }.toDF("id", "g", "v", "w")
    Seq(0.25, 0.5, 0.9).foreach { q =>
      val got = DistributedSelect.groupedWeightedQuantile(df, "g", "v",
          "w", q, buckets = 8, threshold = 16)
        .collect().map(r => r.getString(0) ->
          (r.getDouble(1), r.getLong(2), r.getLong(3))).toMap
      rows.groupBy(_._1).foreach { case (g, grp) =>
        val expanded = grp.flatMap { case (_, v, w) =>
          Seq.fill(w.toInt)(v) }.sorted
        val k = math.max(1L, math.ceil(q * expanded.length).toLong)
        assert(got(g)._1 === expanded((k - 1).toInt), s"g=$g q=$q")
        assert(got(g)._2 === expanded.length.toLong, s"g=$g q=$q wt")
        assert(got(g)._3 === k, s"g=$g q=$q k")
      }
    }
  }

  test("groupedWeightedQuantile: infinity masses, null-only groups, guards") {
    val s = spark
    import s.implicits._
    val df = Seq(
      ("neg", Double.NegativeInfinity, 5L), ("neg", 1.0, 1L),
      ("pos", 2.0, 1L), ("pos", Double.PositiveInfinity, 9L),
      ("nul", Double.NaN, 3L),
      ("fin", 4.0, 1L), ("fin", 8.0, 1L))
      .toDF("g", "v", "w")
    val out = DistributedSelect.groupedWeightedQuantile(df, "g", "v",
        "w", 0.5, buckets = 4, threshold = 2)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // a NaN-only group has no comparable values and is absent
    assert(out.keySet === Set("neg", "pos", "fin"))
    assert(out("neg") === Double.NegativeInfinity) // k=3 inside -Inf mass
    assert(out("pos") === Double.PositiveInfinity) // k=5 past finite mass
    assert(out("fin") === 4.0)
    intercept[IllegalArgumentException] {
      DistributedSelect.groupedWeightedQuantile(
        Seq(("x", 1.0, 0L)).toDF("g", "v", "w"), "g", "v", "w", 0.5)
    }
    intercept[IllegalArgumentException] {
      DistributedSelect.groupedWeightedQuantile(df, "g", "v", "w", 0.5,
        maxGroups = 1)
    }
  }

  test("exactQuantiles: all targets match the sorted reference in shared scans") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(5)
    val vals = (1 to 2000).map(_ => rng.nextInt(10000).toDouble) ++
      Seq(Double.NegativeInfinity, Double.PositiveInfinity, Double.NaN)
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "v")
    val comparable = vals.filterNot(_.isNaN).sorted
    val n = comparable.length
    // far-apart targets + a duplicate-rank pair (0.5 and 0.5004 both
    // hit k=1001 at n=2002) + the extremes that resolve in the head
    val qs = Seq(0.001, 0.25, 0.5, 0.5004, 0.75, 0.999, 1.0)
    val got = DistributedSelect.exactQuantiles(df, "v", qs,
        buckets = 8, threshold = 16)
      .collect().map(r => r.getDouble(0) ->
        (r.getDouble(1), r.getLong(2), r.getLong(3))).toMap
    qs.foreach { q =>
      val k = math.max(1L, math.ceil(q * n).toLong)
      assert(got(q)._1 === comparable((k - 1).toInt), s"q=$q")
      assert(got(q)._2 === n.toLong && got(q)._3 === k, s"q=$q meta")
    }
    assert(got(1.0)._1 === Double.PositiveInfinity)
  }

  test("groupedMad: weighted per-group medians and MADs match expansion") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(11)
    val rows = (1 to 300).map(i => (s"g${i % 3}",
      rng.nextInt(200).toDouble, 1L + rng.nextInt(4)))
    val df = rows.zipWithIndex.map { case ((g, v, w), i) =>
      (i.toLong, g, v, w) }.toDF("id", "g", "v", "w")
    val got = DistributedSelect.groupedMad(df, "g", "v", "w",
        buckets = 8, threshold = 16)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getLong(3))).toMap
    rows.groupBy(_._1).foreach { case (g, grp) =>
      val exp = grp.flatMap { case (_, v, w) => Seq.fill(w.toInt)(v) }
      val k = math.max(1L, math.ceil(0.5 * exp.length).toLong).toInt
      val m = exp.sorted.apply(k - 1)
      val mad = exp.map(x => math.abs(x - m)).sorted.apply(k - 1)
      assert(got(g)._1 === m, s"median g=$g")
      assert(got(g)._2 === mad, s"mad g=$g")
      assert(got(g)._3 === exp.length.toLong, s"w_total g=$g")
    }
  }

  test("madFrame and winsorizedMeanMicro match the in-memory reference") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(7)
    // skewed values + planted outliers that must not move either stat
    val base = (1 to 300).map(_ => rng.nextInt(100).toDouble)
    val vals = base ++ Seq(1e9, -1e9, 1e9)
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "v")
    val sorted = vals.sorted
    val n = vals.length
    val k = math.max(1L, math.ceil(0.5 * n).toLong).toInt
    val m = sorted(k - 1)
    val madRef = vals.map(x => math.abs(x - m)).sorted.apply(k - 1)
    val r = DistributedSelect.madFrame(df, "v", buckets = 8,
      threshold = 16).head()
    assert(r.getDouble(0) === m)
    assert(r.getDouble(1) === madRef)
    assert(r.getLong(2) === n.toLong)
    // winsorized mean: clamp to exact P5/P95 then micro-mean
    val kLo = math.max(1L, math.ceil(0.05 * n).toLong).toInt
    val kHi = math.max(1L, math.ceil(0.95 * n).toLong).toInt
    val (lo, hi) = (sorted(kLo - 1), sorted(kHi - 1))
    val wRef = vals.map(v => math.round(math.min(math.max(v, lo), hi)
      * 1e6)).sum / n
    val w = DistributedSelect.winsorizedMeanMicro(df, "v", 0.05, 0.95,
      buckets = 8, threshold = 16).head()
    assert(w.getDouble(0) === lo && w.getDouble(1) === hi)
    assert(w.getLong(2) === n.toLong)
    assert(w.getLong(3) === wRef)
    // the outliers moved the plain mean far away but not these
    assert(math.abs(w.getLong(3) / 1e6 - base.sum / base.length) < 20)
  }

  test("narrowing terminates under threshold pressure and stays exact") {
    val s = spark
    import s.implicits._
    // heavy tie mass: one value holds half the data
    val vals = (1 to 500).map(_ => 10.0) ++ (1 to 500).map(_.toDouble)
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "v")
    val sorted = vals.sorted
    Seq(1, 250, 500, 750, 1000).foreach { k =>
      val (got, rounds) = DistributedSelect.kthSmallest(df, "v", k,
        buckets = 8, threshold = 4)
      assert(got === sorted(k - 1), s"k=$k")
      assert(rounds < 64, s"k=$k runaway narrowing")
    }
  }

  test("equiDepthHistogram matches the sorted reference; ties fall left") {
    val s = spark
    import s.implicits._
    val vals = Seq(9.0, 3.0, 2.0, 11.0, 3.0, 1.0, 7.0, 9.0, 2.0, 3.0,
      100.0, -5.0)
    val df = (vals.zipWithIndex.map { case (v, i) =>
        (i.toLong, java.lang.Double.valueOf(v)) } ++
      Seq((98L, null: java.lang.Double),
        (99L, java.lang.Double.valueOf(Double.NaN))))
      .toDF("id", "v")
    val B = 4
    val sorted = vals.sorted
    val n = vals.length
    val bnds = (1 until B).map(i =>
      sorted(math.max(1, math.ceil(i.toDouble / B * n).toLong).toInt - 1))
    val rows = DistributedSelect.equiDepthHistogram(df, "v", B,
      narrowBuckets = 4, threshold = 2).collect()
    assert(rows.length === B)
    assert(rows.map(_.getLong(3)).sum === n.toLong,
      "counts must cover exactly the non-null/NaN rows")
    rows.foreach { r =>
      val b = r.getLong(0).toInt
      if (b == 0) assert(r.isNullAt(1)) else
        assert(r.getDouble(1) === bnds(b - 1), s"lo of bucket $b")
      if (b == B - 1) assert(r.isNullAt(2)) else
        assert(r.getDouble(2) === bnds(b), s"hi of bucket $b")
      val expect = vals.count { v =>
        bnds.count(v > _) == b }
      assert(r.getLong(3) === expect.toLong, s"cnt of bucket $b")
    }
  }

  test("equiDepthHistogram: boundary collisions leave empty middle buckets") {
    val s = spark
    import s.implicits._
    // 90% of the mass is one value: with B=4 every boundary collides
    // on 5.0, so buckets 1 and 2 are genuinely empty — the fixed-size
    // output contract must still report all four rows
    val vals = Seq.fill(90)(5.0) ++ Seq(1.0, 2.0, 3.0, 4.0, 6.0, 7.0,
      8.0, 9.0, 10.0, 11.0)
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "v")
    val rows = DistributedSelect.equiDepthHistogram(df, "v", 4,
      narrowBuckets = 8, threshold = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(rows.keySet === Set(0L, 1L, 2L, 3L))
    // all three boundaries are 5.0: everything <= 5.0 falls LEFT into
    // bucket 0 (94 rows), buckets 1-2 are empty, the rest go right
    assert(rows(0L) === 94L && rows(1L) === 0L && rows(2L) === 0L &&
      rows(3L) === 6L)
  }

  test("one descent: the cell walk appears once under src/main") {
    val hits = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        "while \\(c < buckets".r
          .findAllMatchIn(Files.readString(p)).map(_ => p.getFileName.toString)
      }.toSeq
    assert(hits === Seq("DistributedSelect.scala"))
  }
}
