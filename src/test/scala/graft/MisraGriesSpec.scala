package graft

import graft.functions.MisraGries
import graft.pipeline.HeavyHitters
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MisraGriesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def itemsDf(xs: Seq[String]) = {
    val s = spark
    import s.implicits._
    xs.toDF("item")
  }

  private def sketch(xs: Seq[String], m: Int,
                     parts: Int): Map[String, Long] =
    itemsDf(xs).repartition(parts)
      .agg(MisraGries.agg(m, col("item")).as("mg"))
      .head().getAs[Map[String, Long]]("mg")

  test("classic decrement example and the local error bound") {
    // single partition: the textbook m=2 cancellation walk
    val xs = Seq("a", "b", "c", "a", "a", "b", "a")
    val mg = sketch(xs, m = 2, parts = 1)
    // a(4) must survive: 4 > N/(m+1) = 7/3
    assert(mg.contains("a"))
    // weights never overcount and undercount by at most N/(m+1)
    val exact = xs.groupBy(identity).view.mapValues(_.size.toLong)
    for ((k, w) <- mg) {
      assert(w <= exact(k))
      assert(w >= exact(k) - xs.size / 3)
    }
  }

  test("merged sketches keep the inclusion guarantee adversarially") {
    // Zipf-ish corpus shuffled across awkward partition counts: every
    // item with freq > N/(m+1) must be present in the merged sketch,
    // with the merged-summary error bound on its weight.
    for (seed <- 1 to 3; parts <- Seq(2, 7)) {
      val rnd = new scala.util.Random(seed)
      val vocabHead = Seq.fill(2000)(s"hot${rnd.nextInt(5)}")
      val vocabTail = Seq.fill(3000)(s"cold${rnd.nextInt(1500)}")
      val xs = rnd.shuffle(vocabHead ++ vocabTail)
      val m = 24
      val n = xs.size
      val mg = sketch(xs, m, parts)
      assert(mg.size <= m)
      val exact = xs.groupBy(identity).view.mapValues(_.size.toLong)
      val mustHave = exact.filter(_._2 > n / (m + 1)).keySet
      assert(mustHave.subsetOf(mg.keySet),
        s"missing ${mustHave.diff(mg.keySet)} (seed=$seed parts=$parts)")
      for ((k, w) <- mg) {
        assert(w <= exact(k), s"overcount of $k")
        assert(w >= exact(k) - n / (m + 1), s"undercount of $k")
      }
    }
  }

  test("null items are skipped like SQL aggregates") {
    val s = spark
    import s.implicits._
    val mg = Seq("a", null, "a", null, "b").toDF("item")
      .agg(MisraGries.agg(4, col("item")).as("mg"))
      .head().getAs[Map[String, Long]]("mg")
    assert(mg === Map("a" -> 2L, "b" -> 1L))
  }

  test("exactTopK equals the brute-force top-k when the bound holds") {
    for (seed <- 4 to 6) {
      val rnd = new scala.util.Random(seed)
      // heads well above N/(m+1): 10 hot items dominate a long tail
      val xs = rnd.shuffle(
        (0 until 10).flatMap(i => Seq.fill(300 - 10 * i)(s"h$i")) ++
          Seq.fill(1000)(s"t${rnd.nextInt(400)}"))
      val df = itemsDf(xs).repartition(5)
      val got = HeavyHitters.exactTopK(df, col("item"), k = 10,
          sketchSize = 64)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val want = xs.groupBy(identity).view.mapValues(_.size.toLong)
        .toSeq.sortBy { case (k, c) => (-c, k) }.take(10)
      assert(got === want, s"seed=$seed")
    }
  }

  test("exactTopK validates its parameters") {
    val df = itemsDf(Seq("a"))
    intercept[IllegalArgumentException] {
      HeavyHitters.exactTopK(df, col("item"), k = 5, sketchSize = 4)
    }
  }

  test("exactTopK fails loudly when the frequency bound is violated") {
    // near-uniform data: 200 distinct items once each, so the k-th
    // frequency (1) is nowhere near N/(m+1) = 200/17 — the sketch
    // cannot guarantee exactness and the plan must throw instead of
    // returning a silently non-exact top-k
    val df = itemsDf((0 until 200).map(i => f"u$i%03d")).repartition(3)
    val ex = intercept[Exception] {
      HeavyHitters.exactTopK(df, col("item"), k = 10, sketchSize = 16)
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("exactTopK guarantee violated")),
      s"unexpected failure: $ex")
  }

  test("exactTopK throws on a sub-k result that does not cover the stream") {
    // decrement-all can evict BELOW k surviving slots: stream a,b,c,d
    // with m=2 leaves a single candidate ({d} or fewer than 2 slots
    // filled, partition-order dependent), yet the true top-2 is
    // [(a,1),(b,1)] by the tie order. A sub-k result here is NOT
    // exact; the coverage proof (sum tf = 1 or 2 < N = 4) must catch
    // it and throw rather than silently return the surviving slot
    val df = itemsDf(Seq("a", "b", "c", "d")).coalesce(1)
    val ex = intercept[Exception] {
      HeavyHitters.exactTopK(df, col("item"), k = 2, sketchSize = 2)
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("exactTopK guarantee violated")),
      s"unexpected failure: $ex")
  }

  test("exactTopK sub-k via coverage survives evictions elsewhere") {
    // 2 distinct items but m large enough that after some noise the
    // candidates still cover every occurrence: coverage == N proves a
    // sub-k answer even when the bound kth*(m+1) > N would ALSO hold;
    // here we stress the opposite — a weak kth frequency (1) with
    // full coverage must pass on the coverage arm alone
    val df = itemsDf(Seq("a", "a", "b")).repartition(2)
    val got = HeavyHitters.exactTopK(df, col("item"), k = 5,
        sketchSize = 8)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got === Seq(("a", 2L), ("b", 1L)))
  }

  test("exactTopK stays exact when fewer distinct items than k exist") {
    // 3 distinct items, k=10: the sketch never evicts (distinct <= m)
    // so the sub-k result is exact and the bound check must not fire
    val df = itemsDf(Seq("a", "a", "a", "b", "b", "c")).repartition(2)
    val got = HeavyHitters.exactTopK(df, col("item"), k = 10,
        sketchSize = 16)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got === Seq(("a", 3L), ("b", 2L), ("c", 1L)))
  }

  test("countMin: one-sided bound, conservation, zero cells, params") {
    val xs = Seq.fill(5)("a") ++ Seq.fill(3)("b") ++
      Seq("c", "d", "e")
    val exact = xs.groupBy(identity).view.mapValues(_.size.toLong)
      .toMap
    val df = itemsDf(xs).repartition(3)
    def estimates(width: Int): Map[String, Long] =
      HeavyHitters.countMinEstimates(
          HeavyHitters.countMinTable(df, col("item"), depth = 4,
            width = width),
          itemsDf(xs.distinct), col("item"), depth = 4, width = width)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // width 4 forces collisions: the estimate may overcount but must
    // NEVER undercount (the one-sided CMS guarantee)
    val tight = estimates(4)
    exact.foreach { case (t, c) =>
      assert(tight(t) >= c, s"CMS undercounted $t: ${tight(t)} < $c")
    }
    // width 1024 over 5 items: no collision survives the 4-row min
    assert(estimates(1024) === exact)
    // every row's cells partition the stream: each sums to N
    val cms = HeavyHitters.countMinTable(df, col("item"), depth = 4,
      width = 4)
    val rowSums = cms.groupBy("r").agg(sum(col("c")).as("s"))
      .collect().map(_.getLong(1))
    assert(rowSums.length === 4 &&
      rowSums.forall(_ === xs.size.toLong))
    // an unseen item reads its (empty → 0) cells through the left
    // join, never errors
    val unseen = HeavyHitters.countMinEstimates(
        HeavyHitters.countMinTable(df, col("item"), depth = 4,
          width = 1024),
        itemsDf(Seq("zzz")), col("item"), depth = 4, width = 1024)
      .head()
    assert(unseen.getLong(1) === 0L)
    intercept[IllegalArgumentException] {
      HeavyHitters.countMinTable(df, col("item"), depth = 0)
    }
    intercept[IllegalArgumentException] {
      HeavyHitters.countMinTable(df, col("item"), width = 1)
    }
    // a NULL query item keeps its row with a NULL estimate — never a
    // silently dropped row (round-11 review)
    val cms1k = HeavyHitters.countMinTable(df, col("item"),
      depth = 4, width = 1024)
    val withNull = HeavyHitters.countMinEstimates(cms1k,
        itemsDf(Seq("a", null)), col("item"), depth = 4,
        width = 1024)
      .collect().map(r => Option(r.getString(0)) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(withNull === Map(Some("a") -> Some(5L), None -> None),
      withNull.toString)
  }

  test("countMin is LINEAR: batch cell tables summed equal one-shot") {
    val xs = ('a' to 'j').flatMap(c =>
      Seq.fill(c - 'a' + 1)(c.toString))
    def cells(d: org.apache.spark.sql.DataFrame): Map[(Long, Long), Long] =
      d.collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val one = cells(HeavyHitters.countMinTable(itemsDf(xs),
      col("item"), depth = 4, width = 64))
    val merged = cells(
      (0 until 3).map { i =>
          HeavyHitters.countMinTable(
            itemsDf(xs.zipWithIndex.filter(_._2 % 3 == i).map(_._1)),
            col("item"), depth = 4, width = 64)
        }
        .reduce(_ unionAll _)
        .groupBy("r", "b").agg(sum(col("c")).as("c")))
    assert(merged === one, "CMS batch fold diverged from one-shot")
  }
}
