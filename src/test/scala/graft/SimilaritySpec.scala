package graft

import graft.pipeline.Similarity
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def emb(rows: Seq[(Long, Seq[Float])]) = {
    val s = spark
    import s.implicits._
    rows.toDF("vec_id", "embedding")
  }

  test("cosine top-k golden on known vectors") {
    val df = emb(Seq(
      (0L, Seq(1f, 0f)),        // query: cosine 1
      (1L, Seq(2f, 0f)),        // same direction: 1
      (2L, Seq(0f, 3f)),        // orthogonal: 0
      (3L, Seq(-1f, 0f)),       // opposite: -1
      (4L, Seq(1f, 1f))))       // 45°: √2/2
    val got = Similarity.cosineTopK(df, "vec_id", "embedding",
      Seq(1.0, 0.0), 5).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.map(_._1).toSeq === Seq(0L, 1L, 4L, 2L, 3L))
    assert(math.abs(got(2)._2 - math.sqrt(2) / 2) < 1e-9)
    assert(math.abs(got(4)._2 - (-1.0)) < 1e-9)
  }

  test("ann lsh: query's own vector ranks first inside its bucket; " +
    "bucket assignment is deterministic") {
    val rnd = new scala.util.Random(11)
    val dim = 16
    val rows = (0L to 60L).map(id =>
      id -> Seq.fill(dim)(rnd.nextFloat() * 2 - 1))
    val df = emb(rows)
    val q = rows.head._2.map(_.toDouble)
    val got = Similarity.annTopK(df, "vec_id", "embedding", q, k = 10)
      .collect()
    assert(got.nonEmpty)
    assert(got.head.getLong(0) === 0L)
    assert(math.abs(got.head.getDouble(1) - 1.0) < 1e-9)
    // all results share one bucket id
    assert(got.map(_.getLong(2)).toSet.size === 1)
    // recall sanity: bucket restriction only ever drops rows
    val brute = Similarity.cosineTopK(df, "vec_id", "embedding", q, 61)
    assert(got.length <= brute.count())
  }

  test("hyperplanes are deterministic across invocations") {
    assert(Similarity.hyperplanes(4, 8) === Similarity.hyperplanes(4, 8))
  }

  test("native vector_dot is bit-identical to the declarative fold") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(29)
    val rows = (1 to 200).map(_ => Tuple2(
      Seq.fill(64)(rnd.nextDouble() * 2 - 1),
      Seq.fill(64)(rnd.nextDouble() * 2 - 1)))
    val df = rows.toDF("a", "b")
    val bad = df.select(
        Similarity.dot(col("a"), col("b")).as("native"),
        Similarity.dotDeclarative(col("a"), col("b")).as("decl"))
      .filter(col("native") =!= col("decl")).count()
    assert(bad === 0)
  }

  test("ivf: full-probe equals brute force; few-probe is a subset with query first") {
    val rnd = new scala.util.Random(13)
    val dim = 16
    val rows = (0L to 80L).map(id =>
      id -> Seq.fill(dim)(rnd.nextFloat() * 2 - 1))
    val df = emb(rows)
    val q = rows.head._2.map(_.toDouble)
    val brute = Similarity.cosineTopK(df, "vec_id", "embedding", q, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val full = Similarity.ivfTopK(df, "vec_id", "embedding", q, 10,
        nCentroids = 8, nProbes = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(full === brute) // all cells probed → exact
    val few = Similarity.ivfTopK(df, "vec_id", "embedding", q, 10,
        nCentroids = 8, nProbes = 2).collect()
    assert(few.nonEmpty)
    assert(few.head.getLong(0) === 0L) // query's own cell always probed
    val bruteIds = Similarity.cosineTopK(df, "vec_id", "embedding", q, 81)
      .collect().map(_.getLong(0)).toSet
    assert(few.map(_.getLong(0)).forall(bruteIds)) // subset of the data
  }

  test("on-disk IVF index: identical results, only probed partitions read") {
    val s2 = spark
    import s2.implicits._
    val rnd = new scala.util.Random(23)
    val df = (0L to 60L)
      .map(i => (i, Seq.fill(8)((rnd.nextDouble() - 0.5).toFloat)))
      .toDF("vec_id", "embedding")
    val q = df.filter(col("vec_id") === 0).select(col("embedding"))
      .head().getSeq[Float](0).map(_.toDouble)
    val cids = (1L to 4L)
    val path = Staged.scratch("ivf_idx_spec")
    Similarity.writeIvfIndex(df, "vec_id", "embedding", path, cids)
    // layout: one directory per cell
    val cellDirs = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("cell=")).map(_.getName).toSet
    assert(cellDirs.nonEmpty && cellDirs.subsetOf(
      cids.map(c => s"cell=$c").toSet))

    val indexed = Similarity.ivfTopKIndexed(s2, path, "vec_id",
      "embedding", q, k = 10, centroidIds = cids, nProbes = 2)
    val inline = Similarity.ivfTopKData(df, "vec_id", "embedding", q,
      k = 10, centroidIds = cids, nProbes = 2)
    assert(indexed.collect().map(r => (r.getLong(0), r.getDouble(1)))
      .toSeq ===
      inline.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)

    // pruning: the cell predicate is a PARTITION filter (file-skipping),
    // not a row filter — the executed scan reports fewer files read
    // than the index holds
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val planStr = indexed.queryExecution.executedPlan.toString
    assert(planStr.contains("PartitionFilters") &&
      planStr.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("cell"),
      s"cell predicate must be a partition filter:\n$planStr")
    val scan = scans(indexed.queryExecution.executedPlan)
      .find(_.toString.contains("cell")).get
    val totalFiles = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(path))
        .count(f => f.getName.endsWith(".parquet"))
    }
    assert(scan.metrics.contains("numFiles"))
    val read = scan.metrics("numFiles").value
    assert(read > 0 && read < totalFiles,
      s"probe must skip unprobed partitions: read $read of $totalFiles")
  }

  test("IVF index append: new vectors join their cells, probes see both") {
    val s2 = spark
    import s2.implicits._
    val rnd = new scala.util.Random(29)
    def vecs(ids: Range) = ids.map(i =>
      (i.toLong, Seq.fill(8)((rnd.nextDouble() - 0.5).toFloat)))
      .toDF("vec_id", "embedding")
    val base = vecs(0 to 40)
    val cids = (1L to 4L)
    val path = Staged.scratch("ivf_idx_append")
    Similarity.writeIvfIndex(base, "vec_id", "embedding", path, cids)
    // incremental maintenance: same codebook, append-only
    val cents = Similarity.vectorsByIds(base, "vec_id", "embedding", cids)
    val delta = vecs(41 to 60)
    Similarity.writeIvfIndexWith(delta, "vec_id", "embedding", path,
      cids, cents, "append")
    val all = base.union(delta)
    val q = all.filter(col("vec_id") === 0).select(col("embedding"))
      .head().getSeq[Float](0).map(_.toDouble)
    val indexed = Similarity.ivfTopKIndexed(s2, path, "vec_id",
        "embedding", q, k = 15, centroidIds = cids, nProbes = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val inline = Similarity.ivfTopKData(all, "vec_id", "embedding", q,
        k = 15, centroidIds = cids, nProbes = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(indexed === inline)
    assert(indexed.map(_._1).exists(_ > 40L)) // appended rows reachable
  }

  test("ANN recall: Hamming-1 multi-probe reaches 0.9 where single-bucket may not") {
    // Clustered workload (the shape ANN exists for): a 40-vector cluster
    // around the query + 260 background vectors. Recall@20 is measured
    // against the exact brute-force top-20 — the e1 baseline.
    val rnd = new scala.util.Random(37)
    val dim = 16
    val qv = Seq.fill(dim)(rnd.nextDouble() * 2 - 1)
    val cluster = (1L to 40L).map(id =>
      id -> qv.map(x => (x + rnd.nextGaussian() * 0.15).toFloat))
    val noise = (41L to 300L).map(id =>
      id -> Seq.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat))
    val df = emb(Seq(0L -> qv.map(_.toFloat)) ++ cluster ++ noise)
    val exact = Similarity.cosineTopK(df, "vec_id", "embedding", qv, 20)
      .collect().map(_.getLong(0)).toSet
    val hp = Similarity.hyperplanes(4, dim)
    def recallAt(h: Int): (Double, Long) = {
      val probes = Similarity.hammingProbes(
        hp.zipWithIndex.map { case (p, i) =>
          if (p.zip(qv).map { case (a, b) => a * b }.sum > 0) 1L << i
          else 0L
        }.sum, hp.length, h)
      val cost = df
        .withColumn("bucket", Similarity.lshBucket(
          Similarity.toDouble(col("embedding")), hp))
        .filter(col("bucket").isin(probes: _*)).count()
      val got = Similarity.annTopKWith(df, "vec_id", "embedding", qv,
          k = 20, hp, roundCosine = false, probeHamming = h)
        .collect().map(_.getLong(0)).toSet
      (got.intersect(exact).size / 20.0, cost)
    }
    val (r0, cost0) = recallAt(0)
    val (r1, cost1) = recallAt(1)
    val (r2, cost2) = recallAt(2)
    info(f"recall@20 / rows scanned of 301: h=0 $r0%.2f/$cost0, " +
      f"h=1 $r1%.2f/$cost1, h=2 $r2%.2f/$cost2")
    // multi-probe can only add candidates: monotone recall AND cost
    assert(r0 <= r1 && r1 <= r2)
    assert(cost0 <= cost1 && cost1 <= cost2)
    assert(r1 >= 0.9, s"recall@20 with Hamming-1 probes was $r1 " +
      s"(single-bucket: $r0) — the documented setting must reach 0.9")
    // and the probed slice stays a fraction of the corpus — the point
    // of bucketing (h=1 probes 5 of 16 buckets)
    assert(cost1 < df.count(), s"cost1 $cost1 must prune the scan")
  }

  test("trained IVF codebook balances cells and tightens quantization") {
    // Real fixture embeddings (label-clustered, 64-dim): the deployment
    // question is whether two Lloyd iterations from a data init beat
    // the data-blind gaussian stand-in the code shipped with. Training
    // must (a) raise the mean cosine-to-assigned-centroid (tighter
    // cells) and (b) shrink the largest cell's share (the probe-cost
    // bound at 100 TB: a query reads nProbes/nCells of the corpus only
    // if no cell hoards the corpus).
    val df = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val dim = df.select(col("embedding")).head().getSeq[Float](0).length
    val initIds = (1L to 8L)
    val init = Similarity.vectorsByIds(df, "vec_id", "embedding", initIds)
    val trained = Similarity.trainIvfCentroids(df, "embedding", init, 2)
    assert(trained.length === init.length)
    assert(trained.forall(c => math.abs(
      math.sqrt(c.map(x => x * x).sum) - 1.0) < 1e-3)) // unit, rounded

    def stats(cents: Seq[Seq[Double]]): (Double, Double) = {
      val v = Similarity.toDouble(col("embedding"))
      val assigned = df.select(
        Similarity.ivfAssign(v, cents).as("cell"), v.as("v"))
      val withCos = assigned.select(col("cell"),
        greatest(cents.zipWithIndex.map { case (c, i) =>
          when(col("cell") === i.toLong,
            Similarity.cosine(col("v"), typedlit(c)))
        }: _*).as("cos_to_centroid"))
      val agg = withCos.groupBy("cell")
        .agg(count(lit(1)).as("n"), avg("cos_to_centroid").as("c"))
        .collect()
      val total = agg.map(_.getLong(1)).sum.toDouble
      val maxShare = agg.map(_.getLong(1)).max / total
      val meanCos = agg.map(r => r.getLong(1) * r.getDouble(2)).sum / total
      (maxShare, meanCos)
    }
    // the untrained stand-in the production code shipped with: seeded
    // gaussian directions (Similarity.ivfCentroids). Data-blind
    // directions leave most cells empty-ish and one dominant.
    val gauss = Similarity.ivfCentroids(8, dim)
    val (gaussShare, gaussCos) = stats(gauss)
    val (initShare, initCos) = stats(init)
    val (trainedShare, trainedCos) = stats(trained)
    info(f"max cell share / mean cos: gaussian $gaussShare%.2f/" +
      f"$gaussCos%.3f, init $initShare%.2f/$initCos%.3f, " +
      f"trained $trainedShare%.2f/$trainedCos%.3f")
    assert(trainedCos > gaussCos,
      s"trained cells must be tighter than the gaussian stand-in: " +
        s"$trainedCos vs $gaussCos")
    assert(trainedShare < gaussShare,
      s"training must shrink the largest cell vs the gaussian " +
        s"stand-in: $trainedShare vs $gaussShare")
    // Lloyd's own objective (mean cosine to assigned centroid) must
    // also improve on the degenerate data init it started from
    assert(trainedCos > initCos,
      s"training must improve its init objective: $trainedCos vs $initCos")
    assert(initShare > 0.0) // silence unused warning, document baseline
  }

  test("knn join equals per-query multi-probe ANN, query by query") {
    val s2 = spark
    import s2.implicits._
    val rnd = new scala.util.Random(43)
    val dim = 12
    val df = (0L to 80L)
      .map(i => (i, Seq.fill(dim)((rnd.nextDouble() - 0.5).toFloat)))
      .toDF("vec_id", "embedding")
    val hp = Similarity.hyperplanes(4, dim)
    val queryIds = Seq(3L, 17L, 42L)
    val joined = Similarity.knnJoin(
        df.filter(col("vec_id").isin(queryIds: _*)), df,
        "vec_id", "embedding", k = 7, hp, probeHamming = 1)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
    val qVecs = Similarity.vectorsByIds(df, "vec_id", "embedding", queryIds)
    queryIds.zip(qVecs).foreach { case (qid, qv) =>
      val single = Similarity.annTopKWith(df, "vec_id", "embedding", qv,
          k = 7, hp, probeHamming = 1)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val batch = joined(qid).sortBy(t => (-t._3, t._2))
        .map(t => (t._2, t._3)).toSeq
      assert(batch === single, s"query $qid")
    }
  }

  test("data-derived IVF/ANN: full probe equals brute force (rounded)") {
    val s2 = spark
    import s2.implicits._
    val rnd = new scala.util.Random(11)
    val emb = (0L to 60L)
      .map(i => (i, Seq.fill(8)((rnd.nextDouble() - 0.5).toFloat)))
      .toDF("vec_id", "embedding")
    val q = emb.filter(col("vec_id") === 0).select(col("embedding"))
      .head().getSeq[Float](0).map(_.toDouble)

    val brute = Similarity.cosineTopK(emb, "vec_id", "embedding", q, 10)
      .select(col("vec_id"), round(col("cosine"), 6).as("cosine"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

    // probing every cell degrades IVF to exact brute force
    val ivfAll = Similarity.ivfTopKData(emb, "vec_id", "embedding", q,
        k = 10, centroidIds = (1L to 4L), nProbes = 4)
      .select("vec_id", "cosine")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(ivfAll === brute)

    // data-derived LSH: the query's own bucket contains the query
    val hp = Similarity.vectorsByIds(emb, "vec_id", "embedding",
      Seq(1L, 2L, 3L))
    val ann = Similarity.annTopKWith(emb, "vec_id", "embedding", q,
        k = 10, hp)
      .collect().map(_.getLong(0))
    assert(ann.head === 0L) // cosine(q, q) = 1 ranks first
  }

  test("pq adc: codebook rows are exact; clustered recall holds") {
    val rnd = new scala.util.Random(5)
    val dim = 8
    val centers = (0 until 4).map(_ =>
      Seq.fill(dim)(rnd.nextGaussian().toFloat))
    val points = (10L until 50L).map { i =>
      val c = centers((i % 4).toInt)
      i -> c.map(x => x + rnd.nextGaussian().toFloat * 0.05f)
    }
    val df = emb((1L to 4L).map(i => i -> centers((i - 1).toInt)) ++ points)
    val query = centers(0).map(_.toDouble + 0.01)
    val got = Similarity.pqTopK(df, "vec_id", "embedding", query,
        k = 44, centroidIds = Seq(1L, 2L, 3L, 4L), m = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    assert(got.length === 44)
    // a row that IS a centroid encodes to itself in every subspace, so
    // its ADC distance is the EXACT L2² to the query
    def dotS(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
    val c0 = centers(0).map(_.toDouble)
    val exactD2 = dotS(query, query) - 2 * dotS(query, c0) + dotS(c0, c0)
    val gotC0 = got.find(_._1 == 1L).get._2
    assert(math.abs(gotC0 - exactD2) < 1e-5, s"$gotC0 vs $exactD2")
    // clustered recall: the true 10 nearest are cluster-0 points; PQ
    // collapses every cluster-0 member onto centroid 0's code, so all
    // of them (and the centroid row) must precede other clusters
    val all = ((1L to 4L).map(i => i -> centers((i - 1).toInt)) ++ points)
      .map { case (id, v) =>
        val vd = v.map(_.toDouble)
        id -> (dotS(query, query) - 2 * dotS(query, vd) + dotS(vd, vd))
      }.sortBy(_._2).take(10).map(_._1).toSet
    val pqTop = got.take(11).map(_._1).toSet // cluster 0 = 10 pts + centroid
    assert((all intersect pqTop).size >= 8,
      s"overlap ${(all intersect pqTop).size}/10")
  }

  test("int8 quantization: code range, error bound, faithful top-k") {
    val rnd = new scala.util.Random(11)
    val dim = 16
    val rows = (0L until 200L).map(i =>
      i -> Seq.fill(dim)(rnd.nextGaussian().toFloat))
    // one zero vector: must quantize to scale 0 + zero codes, not NaN
    // (kept out of the cosine top-k below — cosine of the zero vector
    // is 0/0 in any engine)
    val dfz = emb(rows :+ (200L -> Seq.fill(dim)(0f)))
    val df = emb(rows)
    val qd = dfz.select(col("vec_id"),
      Similarity.toDouble(col("embedding")).as("v"),
      Similarity.quantizeInt8(Similarity.toDouble(col("embedding")))
        .as("qs"))
    val decoded = qd.select(col("vec_id"), col("v"),
        col("qs.scale").as("scale"), col("qs.q").as("q"),
        Similarity.dequantizeInt8(col("qs")).as("vq"))
      .collect()
    assert(decoded.length === 201)
    decoded.foreach { r =>
      val scale = r.getDouble(2)
      val codes = r.getSeq[Byte](3)
      val orig = r.getSeq[Double](1)
      val rec = r.getSeq[Double](4)
      assert(codes.forall(c => c >= -127 && c <= 127))
      // reconstruction error bounded by half a quantization step
      orig.zip(rec).foreach { case (x, xh) =>
        assert(math.abs(x - xh) <= scale / 2 + 1e-12)
      }
      if (r.getLong(0) == 200L)
        assert(scale === 0.0 && rec.forall(_ == 0.0))
    }
    // the quantized top-k stays close to the exact one
    val q = rows.head._2.map(_.toDouble)
    val exact = Similarity.cosineTopK(df, "vec_id", "embedding", q, 20)
      .collect().map(_.getLong(0)).toSet
    val quant = Similarity.quantizedTopK(df, "vec_id", "embedding", q, 20)
      .collect().map(_.getLong(0)).toSet
    assert((exact intersect quant).size >= 18,
      s"overlap ${(exact intersect quant).size}/20")
  }

  test("hard negatives: brute-force differential, label and anchor " +
    "exclusion") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (0L until 60L).map { id =>
      (id, Seq.fill(8)(rnd.nextFloat() * 2 - 1), (id % 3).toInt)
    }
    val df = rows.toDF("vec_id", "embedding", "label")
    // samplePeriod = 1: no sampling, so the result must equal the
    // exact brute-force top-k over different-label non-anchors
    val anchors = Seq(0L, 1L)
    val got = Similarity.hardNegatives(df, "vec_id", "embedding",
        "label", anchors, samplePeriod = 1, k = 5)
      .orderBy(col("anchor_id"), col("cosine").desc, col("cand_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    def nrm(v: Seq[Float]): Seq[Double] = {
      val d = v.map(_.toDouble)
      val n = math.sqrt(d.map(x => x * x).sum)
      d.map(_ / n)
    }
    val want = anchors.flatMap { aid =>
      val (_, av, al) = rows(aid.toInt)
      val an = nrm(av)
      rows.filter { case (id, _, l) => !anchors.contains(id) && l != al }
        .map { case (id, v, _) =>
          val c = BigDecimal(nrm(v).zip(an).map { case (x, y) => x * y }
            .sum).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          (aid, id, c)
        }
        .sortBy { case (_, id, c) => (-c, id) }.take(5)
    }
    assert(got === want)
    // every emitted negative has a different label from its anchor
    val labelOf = rows.map(r => r._1 -> r._3).toMap
    got.foreach { case (aid, cid, _) =>
      assert(labelOf(cid) !== labelOf(aid))
      assert(!anchors.contains(cid))
    }
    // a missing anchor id fails fast instead of mining a partial set
    intercept[IllegalArgumentException] {
      Similarity.hardNegatives(df, "vec_id", "embedding", "label",
        Seq(0L, 999L), 1, 5).collect()
    }
  }

  test("centroid outliers: golden centroid and ranking") {
    val s = spark
    import s.implicits._
    // group A centroid = mean of (1,0),(0,1),(3,3) = (4/3, 4/3);
    // (3,3) points along the centroid (cosine 1), the axis vectors sit
    // at 45° (cos √2/2 ≈ 0.7071), and (-1,-1) is the planted outlier
    // (cosine −1). group B is a singleton: its centroid IS the vector,
    // cosine exactly 1 — singleton groups must not crash or skew.
    val df = Seq(
      (1L, "A", Seq(1f, 0f)), (2L, "A", Seq(0f, 1f)),
      (3L, "A", Seq(3f, 3f)), (4L, "A", Seq(-1f, -1f)),
      (5L, "B", Seq(2f, 0f)))
      .toDF("vec_id", "source", "embedding")
    val cent = Similarity.groupCentroids(df, "source", "embedding")
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    assert(cent("B") === Seq(2.0, 0.0))
    // micro-unit exact: (1+0+3−1)/4 = 0.75 per component
    assert(cent("A") === Seq(0.75, 0.75))
    val out = Similarity.centroidOutliers(df, "vec_id", "embedding",
        "source", k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(out.head === ((4L, -1.0)))               // planted outlier first
    assert(out.map(_._1) === Seq(4L, 1L, 2L, 3L, 5L))
    assert(math.abs(out(1)._2 - math.sqrt(2) / 2) < 1e-6)
    assert(out(3)._2 === 1.0 && out(4)._2 === 1.0)  // aligned + singleton
  }

  test("signWords: engine packing matches the driver-side packing") {
    val s = spark
    import s.implicits._
    // 40-dim vector (2 words, second partial) with mixed signs; zero
    // is NOT positive, so its bit stays clear
    val v: Seq[Float] =
      (0 until 40).map(i => if (i % 3 == 0) 1.0f
        else if (i % 3 == 1) -0.5f else 0.0f)
    val df = Seq((1L, v)).toDF("id", "vec")
    val got = df.select(Similarity.signWords(col("vec"), 40))
      .head().getSeq[Long](0)
    val want = Similarity.signWordsOf(v.map(_.toDouble))
    assert(got === want)
    assert(want.length === 2)
    // brute-force bit check
    (0 until 40).foreach { i =>
      val bit = (want(i / 32) >> (i % 32)) & 1L
      assert(bit === (if (v(i) > 0) 1L else 0L), s"bit $i")
    }
  }

  test("signHammingTopK: self-match first, Hamming prunes by angle") {
    val s = spark
    import s.implicits._
    val dim = 64
    // deterministic pseudo-embeddings + the query itself as id 0
    def mk(seed: Int): Seq[Float] =
      (0 until dim).map(i =>
        math.sin(seed * 31 + i * 7 + 1).toFloat)
    val rows = (0L until 50L).map(i => (i, mk(i.toInt)))
    val df = rows.toDF("vec_id", "embedding")
    val q = mk(0).map(_.toDouble)
    val top = Similarity.signHammingTopK(df, "vec_id", "embedding", q,
      k = 5, candidates = 20).collect()
    assert(top.head.getLong(0) === 0L)       // the query vector itself
    assert(top.head.getLong(1) === 0L)       // zero Hamming distance
    assert(top.head.getDouble(2) === 1.0)    // exact cosine 1
    // candidate stage really prunes: every returned row came through
    // the Hamming cut, and the rerank orders by exact cosine desc
    val cosines = top.map(_.getDouble(2)).toSeq
    assert(cosines === cosines.sorted.reverse)
    intercept[IllegalArgumentException] {
      Similarity.signHammingTopK(df, "vec_id", "embedding", q,
        k = 30, candidates = 10)
    }
  }

  test("hammingWords: length-mismatched vectors rank LAST, not first") {
    val s = spark
    import s.implicits._
    // a 1-word (malformed, dim<=32) row among 2-word rows: zip_with
    // pads with null — the sentinel must push it to max distance so
    // the asc Hamming cut never promotes it into the candidates
    val rows = Seq(
      (1L, Seq(0L, 0L)),        // distance 0 to the query
      (2L, Seq(1L, 0L)),        // distance 1
      (3L, Seq(0L)))            // malformed: short array
    val df = rows.toDF("id", "words")
    val q = array(lit(0L), lit(0L))
    val got = df.select(col("id"),
        Similarity.hammingWords(col("words"), q).as("h"))
      .orderBy(col("h").asc, col("id").asc)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.map(_._1).toSeq === Seq(1L, 2L, 3L))
    assert(got.last._2 === Long.MaxValue)
  }

  /** In-memory recall reference: sign buckets, Hamming≤h candidate
    * cut, rounded-cosine + id ranking, self excluded on both sides —
    * the operator's exact decision path. */
  private def refRecall(rows: Seq[(Long, Seq[Float])],
                        hp: Seq[Seq[Double]], qids: Seq[Long], k: Int,
                        h: Int): Map[Long, (Long, Long)] = {
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      BigDecimal(d / (math.sqrt(a.map(x => x * x).sum) *
        math.sqrt(b.map(x => x * x).sum)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val vecs = rows.toMap.view.mapValues(_.map(_.toDouble)).toMap
    def bucket(v: Seq[Double]): Long =
      hp.zipWithIndex.map { case (p, i) =>
        if (p.zip(v).map { case (a, b) => a * b }.sum > 0) 1L << i
        else 0L
      }.sum
    qids.map { qid =>
      val qv = vecs(qid)
      def top(ids: Iterable[Long]): Set[Long] =
        ids.filter(_ != qid).toSeq
          .sortBy(id => (-cos(vecs(id), qv), id)).take(k).toSet
      val exact = top(vecs.keys)
      val cand = vecs.keys.filter(id =>
        java.lang.Long.bitCount(bucket(vecs(id)) ^ bucket(qv)) <= h)
      val hit = (top(cand) & exact).size.toLong
      qid -> ((exact.size.toLong, hit))
    }.toMap
  }

  test("annRecallAudit matches the in-memory reference; perfect at full probe") {
    val rnd = new scala.util.Random(4021)
    val dim = 12
    val rows = (0L to 79L).map(id =>
      id -> Seq.fill(dim)(rnd.nextFloat() * 2 - 1))
    val df = emb(rows)
    val hp = Similarity.hyperplanes(4, dim, seed = 5L)
    val qids = Seq(3L, 17L, 42L)
    val got = Similarity.annRecallAudit(df, "vec_id", "embedding",
        qids, k = 10, hp, probeHamming = 1)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val want = refRecall(rows, hp, qids, k = 10, h = 1)
    assert(got.keySet === qids.toSet)
    qids.foreach { q =>
      val (nEx, nHit) = want(q)
      assert(got(q) === ((nEx, nHit, 1000000L * nHit / nEx)), s"qid=$q")
    }
    // 4-plane/16-bucket LSH at Hamming<=1 probes 5/16 of the space:
    // on random vectors SOME probe must miss, or the audit tests
    // nothing (seed-pinned so this stays a real assertion)
    assert(got.values.exists(_._3 < 1000000L),
      "fixture must exercise an actual recall miss")
    // probing h=0..1 can only help; exact-side size is min(k, n-1)
    assert(got.values.forall(_._1 === 10L))
  }

  test("annRecallAudit: n_exact caps at n-1 on a tiny corpus") {
    val rows = Seq(
      (0L, Seq(1f, 0f)), (1L, Seq(0.9f, 0.1f)), (2L, Seq(0f, 1f)))
    val hp = Seq(Seq(1.0, 1.0)) // one plane: buckets {0,1}
    val got = Similarity.annRecallAudit(emb(rows), "vec_id",
        "embedding", Seq(0L), k = 10, hp, probeHamming = 1)
      .head()
    // exact side has only 2 non-self rows; Hamming<=1 over 1 plane
    // probes BOTH buckets, so the ann side sees everything: recall 1
    assert(got.getLong(1) === 2L && got.getLong(2) === 2L &&
      got.getLong(3) === 1000000L)
  }

  test("covarianceMicro: hand-computed cells, sign, triangle shape") {
    val s = spark
    import s.implicits._
    def run(rows: Seq[(Long, Seq[Float])]) =
      Similarity.covarianceMicro(rows.toDF("vec_id", "embedding"),
          "vec_id", "embedding")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3))).toMap
    // x=[1,3,5], y=[2,4,6]: population var/cov all 24/9 = 2.666667
    val lin = run(Seq(1L -> Seq(1f, 2f), 2L -> Seq(3f, 4f),
      3L -> Seq(5f, 6f)))
    assert(lin.keySet === Set((0L, 0L), (0L, 1L), (1L, 1L)))
    assert(lin((0L, 0L)) === (3L, 2666667L) &&
      lin((0L, 1L)) === (3L, 2666667L) &&
      lin((1L, 1L)) === (3L, 2666667L), lin.toString)
    // anti-correlated axes: cov(0,1) = (2·0 − 1·1)/4 = −0.25
    val anti = run(Seq(1L -> Seq(1f, 0f), 2L -> Seq(0f, 1f)))
    assert(anti((0L, 1L))._2 === -250000L)
    assert(anti((0L, 0L))._2 === 250000L &&
      anti((1L, 1L))._2 === 250000L)
  }

  test("covarianceMicro: tiny-negative cell lands on signless zero") {
    val s = spark
    import s.implicits._
    // dims 0/1 across two vectors: x = [1e-6, 0], y = [0, 1e-6] →
    // micro components x=[1,0], y=[0,1], cov_micro numerator
    // n·Σxy − ΣxΣy = 2·0 − 1·1 = −1, /(n²·1e6) = −2.5e-7 → rounds to
    // 0. This is exactly the r11 e17 regression shape: DuckDB's
    // double ROUND kept the IEEE sign (−0.0) while Spark's BigDecimal
    // round emitted +0.0 and the driver hash split on the sign bit.
    // As an INTEGER the cell cannot carry a sign — assert it equals
    // the literal long 0 and that no double column remains.
    val df = Similarity.covarianceMicro(
      Seq(1L -> Seq(1e-6f, 0f), 2L -> Seq(0f, 1e-6f))
        .toDF("vec_id", "embedding"), "vec_id", "embedding")
    assert(df.schema("cov_micro").dataType ===
      org.apache.spark.sql.types.LongType)
    val cell = df.filter(col("i") === 0L && col("j") === 1L)
      .head().getLong(3)
    assert(cell === 0L)
    assert(java.lang.Long.signum(cell) === 0)
  }

  test("dominantDirectionMicro: axis-aligned and degenerate spectra") {
    val s = spark
    import s.implicits._
    def run(rows: Seq[(Long, Seq[Float])]) =
      Similarity.dominantDirectionMicro(
          rows.toDF("vec_id", "embedding"), "vec_id", "embedding")
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // C = diag(0.5, 0.005): the iteration locks onto axis 0 and
    // λ_micro = 500000 (the 5th matvec max is C00·v0 = 5e11)
    val axis = run(Seq(1L -> Seq(1f, 0f), 2L -> Seq(-1f, 0f),
      3L -> Seq(0f, 0.1f), 4L -> Seq(0f, -0.1f)))
    assert(axis(0L)._1 === 1000000L, axis.toString)
    assert(math.abs(axis(1L)._1) < 100L, axis.toString)
    assert(axis(0L)._2 === 500000L)
    // rank-1: vectors (1,1) and (−1,−1) → C = all-ones·1e6; the
    // all-ones start IS the eigenvector, λ = 2 exactly
    val rank1 = run(Seq(1L -> Seq(1f, 1f), 2L -> Seq(-1f, -1f)))
    assert(rank1(0L) === ((1000000L, 2000000L)) &&
      rank1(1L) === ((1000000L, 2000000L)), rank1.toString)
  }

  test("dominantDirectionDistributed equals the driver form; " +
    "delta_micro reports convergence") {
    val s = spark
    import s.implicits._
    // an asymmetric-enough fixture that the iteration actually moves:
    // correlated dims 0/1 plus a weak dim 2
    val rows = Seq(
      1L -> Seq(1f, 0.8f, 0.1f), 2L -> Seq(-1f, -0.7f, 0f),
      3L -> Seq(0.5f, 0.6f, -0.1f), 4L -> Seq(-0.4f, -0.5f, 0.05f),
      5L -> Seq(0.2f, 0.1f, 0.2f)).toDF("vec_id", "embedding")
    val cov = Similarity.covarianceMicro(rows, "vec_id", "embedding")
      .localCheckpoint()
    val driver = Similarity.dominantDirectionFromCov(cov, iters = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val dist = Similarity.dominantDirectionDistributed(cov, iters = 5)
      .collect()
    // bit-for-bit on the shared columns: the distributed matvec's
    // decimal(38,0) sums are the exact twin of the driver's BigInt
    assert(dist.map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ===
      driver.toSeq)
    // the residual: one value on every row, exact |v5 - v4| max; on
    // this well-separated spectrum the iterate has settled to within
    // a few percent of the 1e6 scale
    val deltas = dist.map(_.getLong(3)).distinct
    assert(deltas.length === 1 && deltas.head >= 0L &&
      deltas.head < 100000L, dist.mkString(","))
    // iters = 1 from the all-ones start must report a LARGER (or
    // equal) residual than iters = 5 — the signal consumers read
    val d1 = Similarity.dominantDirectionDistributed(cov, iters = 1)
      .head().getLong(3)
    assert(d1 >= deltas.head, s"d1=$d1 d5=${deltas.head}")
  }

  test("dominantDirectionFromCov refuses d > 256; the distributed " +
    "form recovers a planted spike at that width") {
    val s = spark
    import s.implicits._
    // C = a·uuᵀ + b·I at d = 300, u supported on dims {0, 150, 299}:
    // the diagonal gives every dimension its cell, the spike's six
    // upper-triangle cells are exact integers, and off-support cells
    // are zero (absent), so the frame is d + 3 rows
    val d = 300
    val b = 1000L
    val u = Map(0L -> 1.0, 150L -> -0.5, 299L -> 0.75)
    val spike = for ((i, ui) <- u.toSeq; (j, uj) <- u.toSeq if i <= j)
      yield (i, j) -> math.round(1e6 * ui * uj)
    val cells = (0L until d).map(i => (i, i) -> 0L).toMap ++ spike
    val cov = cells.toSeq.map { case ((i, j), c) =>
        (i, j, 1L, c + (if (i == j) b else 0L))
      }.toDF("i", "j", "n_vecs", "cov_micro")
    val ex = intercept[IllegalArgumentException] {
      Similarity.dominantDirectionFromCov(cov, iters = 5)
    }
    assert(ex.getMessage.contains(s"d=$d > 256"), ex.getMessage)
    val out = Similarity.dominantDirectionDistributed(cov, iters = 5)
      .collect()
    assert(out.length === d)
    val v = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the iterate is u scaled to max |u| = 1e6; λ = a·|u|² + b
    assert(u.keys.map(i => i -> v(i)).toMap ===
      u.map { case (i, ui) => i -> math.round(1e6 * ui) })
    assert(v.removedAll(u.keys).values.forall(_ === 0L), v.toString)
    assert(out.head.getLong(2) === 1812500L + b)
    assert(out.head.getLong(3) === 0L, "delta_micro")
  }

  test("covarianceMicro: plan is join-free (map-side pair terms)") {
    val s = spark
    import s.implicits._
    val plan = Similarity.covarianceMicro(
      Seq(1L -> Seq(1f, 2f)).toDF("vec_id", "embedding"),
      "vec_id", "embedding").queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
  }
}
