package graft

import graft.pipeline.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def docsDf(rows: Seq[(Long, String)]) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  test("exact dedup keeps the lowest id per distinct content") {
    val df = docsDf(Seq(
      (1L, "aa bb cc"), (2L, "dd ee"), (3L, "aa bb cc"),
      (4L, "ff"), (5L, "aa bb cc"), (6L, "dd ee")))
    val kept = Dedup.exactDedup(df, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept === Seq(1L, 2L, 4L))
    val summary = Dedup.exactDedupSummary(df, "doc_id", "text")
      .orderBy("keep_id").collect()
      .map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("dup_count"))).toSeq
    assert(summary === Seq((1L, 3L), (2L, 2L), (4L, 1L)))
  }

  test("join-form exactDedup matches the windowed reference on random corpora") {
    // Property check over seeded random corpora with heavy duplication
    // (including one hash carrying ~half the rows — the skew shape the
    // join form exists for): both forms must keep exactly the same rows.
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      // null texts included: they must form their own dedup group
      // (null-safe join), exactly as the window partitions them
      val texts = Seq("dup dup dup", "other text", s"unique $seed", "x",
        null)
      val rows = (1L to 200L).map { id =>
        val t = if (rnd.nextBoolean()) texts.head
                else texts(rnd.nextInt(texts.length))
        (id, t)
      }
      val df = docsDf(rnd.shuffle(rows))
      val viaJoin = Dedup.exactDedup(df, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getString(1)))
        .sortBy(_._1).toSeq
      val viaWindow = Dedup.exactDedupWindowed(df, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getString(1)))
        .sortBy(_._1).toSeq
      assert(viaJoin === viaWindow, s"seed $seed")
      assert(viaJoin.exists(_._2 == null), "null group must survive")
    }
  }

  test("shingles produce distinct word n-grams") {
    val df = docsDf(Seq((1L, "a b c d")))
    val got = df.select(Dedup.shingles(col("text"), 2).as("s"))
      .head().getSeq[String](0).toSet
    assert(got === Set("a b", "b c", "c d"))
  }

  test("minhash LSH pairs identical and near-identical docs, not disjoint ones") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = base.replace("tok20", "changed")
    val disjoint = (1 to 40).map(i => s"other$i").mkString(" ")
    val df = docsDf(Seq((1L, base), (2L, base), (3L, nearDup), (4L, disjoint)))
    val pairs = Dedup.minhashCandidatePairs(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))       // identical: all bands collide
    assert(pairs.exists(p => p._1 == 3L || p._2 == 3L)) // near-dup found
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L)) // disjoint not paired
  }

  test("embedding near-dup: planted duplicate found with cosine 1, bucket-local") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(5)
    val dim = 16
    val base = Seq.fill(dim)(rnd.nextFloat() * 2 - 1)
    val rows = Seq((1L, base), (2L, base)) ++ // planted exact dup
      (3L to 40L).map(id => (id, Seq.fill(dim)(rnd.nextFloat() * 2 - 1)))
    val df = rows.toDF("vec_id", "embedding")
    val pairs = graft.pipeline.Dedup
      .embeddingNearDupPairs(df, "vec_id", "embedding", dim)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    assert(math.abs(pairs((1L, 2L)) - 1.0) < 1e-9) // identical vectors pair
    // and all pairs are bucket-local: same-bucket brute check
    assert(pairs.values.forall(c => c <= 1.0 + 1e-9))
  }

  test("jaccard pairs match a scala brute-force reference") {
    val rnd = new scala.util.Random(7)
    val vocab = (1 to 12).map(i => s"w$i")
    val rows = (1L to 12L).map { id =>
      val words = rnd.shuffle(vocab).take(6 + rnd.nextInt(5))
      (id, words.mkString(" "), "b")
    }
    val s = spark
    import s.implicits._
    val df = rows.toDF("doc_id", "text", "blk")
    val got = Dedup.jaccardPairs(df, "doc_id", "text", Seq("blk"), 0.5)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val sets = rows.map { case (id, t, _) => id -> t.split(" ").toSet }.toMap
    val expected = (for {
      a <- rows.map(_._1); b <- rows.map(_._1) if a < b
      j = sets(a).intersect(sets(b)).size.toDouble /
        sets(a).union(sets(b)).size
      if j >= 0.5
    } yield (a, b) -> j).toMap
    assert(got.keySet === expected.keySet)
    expected.foreach { case (k, j) =>
      assert(math.abs(got(k) - j) < 1e-5, s"pair $k")
    }
  }

  test("md5Long60 matches a scala-computed md5 hex prefix") {
    val s2 = spark
    import s2.implicits._
    val texts = Seq("hello", "world", "", "\u4f60\u597d")
    val got = texts.toDF("t")
      .select(Dedup.md5Long60(col("t")).as("h"))
      .collect().map(_.getLong(0)).toSeq
    val want = texts.map { t =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8"))
      val hex = d.map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    assert(got === want)
  }

  test("portable simhash: equal texts equal; hamming orders near vs far") {
    val df = docsDf(Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "the quick brown fox leaps over the lazy dog"),
      (4L, "entirely different words about completely other topics")))
    val m = df.select(col("doc_id"),
        Dedup.simhash60Portable(split(col("text"), " ")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) === m(2L))
    assert(m.values.forall(h => h >= 0L && h < (1L << 60)))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(m(1L), m(3L)) < ham(m(1L), m(4L)))
  }

  test("portable minhash signature: bounded values, near-dups collide more") {
    val df = docsDf(Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, "one two three four five six seven eight")))
    val sigs = df.select(col("doc_id"),
        Dedup.minhashSignaturePortable(
          Dedup.shingles(col("text"), 3), 12).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    sigs.values.foreach { sg =>
      assert(sg.length === 12)
      assert(sg.forall(v => v >= 0L && v < Dedup.PortableMod))
    }
    def agree(a: Seq[Long], b: Seq[Long]) = a.zip(b).count(p => p._1 == p._2)
    assert(agree(sigs(1L), sigs(2L)) > agree(sigs(1L), sigs(3L)))
  }

  test("portable LSH pairs near-identical docs, not disjoint ones") {
    val df = docsDf(Seq(
      (1L, "shared prefix tokens one two three four five six seven"),
      (2L, "shared prefix tokens one two three four five six eight"),
      (3L, "totally unrelated content nine ten eleven twelve thirteen")))
    val pairs = Dedup.minhashCandidatePairsPortable(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("native md5_minhash_sig is bit-identical to the declarative portable form") {
    val df = docsDf(Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two"),
      (3L, ""),
      (4L, "\u4f60\u597d \u4e16\u754c repeated repeated repeated")))
    val both = df.select(
        Dedup.minhashSignaturePortableNative(col("text"), 12, 3).as("n"),
        Dedup.minhashSignaturePortable(
          Dedup.shingles(col("text"), 3), 12).as("d"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[Long](0) === r.getSeq[Long](1))
    }
  }

  test("LSH-verified jaccard finds planted near-dups with exact scores") {
    val df = docsDf(Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "completely different text with no overlap whatsoever here")))
    val pairs = Dedup.lshVerifiedJaccardPairs(df, "doc_id", "text",
        threshold = 0.3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    // 9 distinct tokens each ("the" repeats), 8 shared, union 10:
    // jaccard = 8/10
    assert(pairs.contains((1L, 2L)))
    assert(math.abs(pairs((1L, 2L)) - 0.8) < 1e-6)
    assert(!pairs.keys.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("batch-vs-corpus gate flags only docs near-duplicating the corpus") {
    val corpus = docsDf(Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight nine")))
    val incoming = docsDf(Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta"), // = corpus 1
      (101L, "totally fresh content sharing nothing with anyone")))
    val got = Dedup.lshVerifiedPairsAgainst(incoming, corpus,
        "doc_id", "text", threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq === Seq((100L, 1L, 1.0)))
  }

  test("near-dup gate runs per micro-batch against the static corpus") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = s.sqlContext
    val corpus = docsDf(Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta")))
    val mem = MemoryStream[(Long, String)]
    val flagged = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val q = Dedup.nearDupGateStream(
        mem.toDF().toDF("doc_id", "text"), corpus,
        "doc_id", "text", threshold = 0.6) { pairs =>
      flagged ++= pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    try {
      mem.addData((100L, "alpha beta gamma delta epsilon zeta eta theta"))
      q.processAllAvailable()
      mem.addData((101L, "unrelated words only in this one right here"))
      q.processAllAvailable()
      assert(flagged.toSeq === Seq(100L -> 1L))
    } finally q.stop()
  }

  test("cross-doc n-gram stats match a brute-force reference") {
    def ngrams(text: String, n: Int): Set[String] = {
      val toks = text.split(" ", -1).toSeq
      if (toks.length < n) Set.empty
      else toks.sliding(n).map(_.mkString(" ")).toSet
    }
    val shared = (1 to 6).map(i => s"w$i").mkString(" ") // a 6-token span
    val rows = Seq(
      (1L, s"alpha beta $shared gamma delta"),  // shares span with 2
      (2L, s"$shared epsilon zeta eta theta"),  // shares span with 1
      (3L, "iota kappa lambda mu nu xi omicron pi rho"), // unique
      (4L, "tiny doc"),                          // shorter than n
      (5L, s"alpha beta $shared gamma delta"))   // exact dup of 1
    val n = 4
    val all = rows.map { case (id, t) => id -> ngrams(t, n) }.toMap
    val expected = rows.map { case (id, _) =>
      val mine = all(id)
      val dup = mine.count(gm =>
        all.exists { case (oid, og) => oid != id && og.contains(gm) })
      (id, mine.size.toLong, dup.toLong,
        if (mine.nonEmpty)
          BigDecimal(dup.toDouble / mine.size)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        else 0.0)
    }.sortBy(_._1)
    val got = Dedup.crossDocNgramStats(docsDf(rows), "doc_id", "text", n)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(got === expected)
    // the planted span really is flagged, and only where planted
    assert(got.find(_._1 == 2L).get._3 > 0)
    assert(got.find(_._1 == 3L).get._3 === 0L)
    assert(got.find(_._1 == 4L).get._2 === 0L) // short doc: zero grams
  }

  /** Scala union-find reference for connectedComponents: component =
    * minimum id transitively reachable. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(x => x -> find(x)).toMap
  }

  private def pairsDf(edges: Seq[(Long, Long)]) = {
    val s = spark
    import s.implicits._
    edges.toDF("id_a", "id_b")
  }

  private def ccMap(edges: Seq[(Long, Long)]) =
    Dedup.connectedComponents(pairsDf(edges), "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("connected components match a union-find reference on random graphs") {
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      val n = 40
      val edges = Seq.fill(30)(
          (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val got = ccMap(edges)
      val want = unionFind(edges)
      assert(got === want, s"seed $seed")
      // every endpoint mapped exactly once, nothing extra
      assert(got.keySet === edges.flatMap(e => Seq(e._1, e._2)).toSet)
    }
  }

  test("connected components: chain collapses transitively, not pairwise") {
    // a-b, b-c, c-d: pairwise keep-lowest would leave both c and d;
    // the transitive component is one cluster rooted at 1
    val got = ccMap(Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)))
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("connected components: a 256-node path resolves in few rounds") {
    // star contraction is O(log² n) rounds regardless of diameter;
    // min-label propagation would need ~255 rounds here. The bound
    // below fails loudly if the algorithm ever degrades to O(diameter).
    val path = (0L until 255L).map(i => (i, i + 1))
    graft.ops.Counters.drain() // isolate
    val got = ccMap(path)
    assert(got === (0L to 255L).map(_ -> 0L).toMap)
    // the round driver's note for this run
    val note = graft.ops.Counters.drain().collectFirst {
      case ("connected_components", "loop", m) => m }.get
    assert(note("stopped") == true)
    assert(note("rounds").asInstanceOf[Long] <= 10L, s"note $note")
  }

  test("incremental merge equals recomputing components from all pairs") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(100 + seed)
      val n = 30
      def randomPairs(k: Int) = Seq.fill(k)(
          (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val batch1 = randomPairs(15)
      val batch2 = randomPairs(10) // splices clusters, adds new nodes
      val assign1 = Dedup.connectedComponents(
        pairsDf(batch1), "id_a", "id_b")
      val merged = Dedup.mergeComponents(assign1, pairsDf(batch2),
          "id_a", "id_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val full = ccMap(batch1 ++ batch2)
      assert(merged === full, s"seed $seed")
    }
  }

  test("incremental merge preserves untouched singletons of a total assignment") {
    val s = spark
    import s.implicits._
    // a corpus-TOTAL assignment: cluster {1,2} plus singletons 3 and 4
    // carried as (id, id) rows — the shape a left-join+coalesce rebuild
    // produces. The batch touches 4 (pairs it with new doc 5); 3 stays
    // untouched and MUST survive the merge with its identity component.
    val assign = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 4L))
      .toDF("id", "component")
    val merged = Dedup.mergeComponents(assign, pairsDf(Seq((4L, 5L))),
        "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged === Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L,
      5L -> 4L))
    // a batch splicing two standing clusters (3-11) and opening a new
    // one (40-41) relabels only the touched clusters: {20,21} and 30
    // keep their labels
    val standing = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L),
      (11L, 10L), (20L, 20L), (21L, 20L), (30L, 30L))
      .toDF("id", "component")
    val spliced = Dedup.mergeComponents(standing,
        pairsDf(Seq((3L, 11L), (40L, 41L))), "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(spliced === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 1L,
      11L -> 1L, 20L -> 20L, 21L -> 20L, 30L -> 30L, 40L -> 40L,
      41L -> 40L))
  }

  test("clusterSizeHistogram reports over a precomputed assignment") {
    val s = spark
    import s.implicits._
    // one 3-cluster, two 2-clusters, two singletons — a corpus-total
    // assignment as a pipeline would already hold it (no pairs, no
    // LSH: the report must never need them)
    val assign = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L),
      (6L, 6L), (7L, 6L), (8L, 8L), (9L, 9L)).toDF("id", "component")
    val got = Dedup.clusterSizeHistogram(assign)
      .orderBy("cluster_size").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === Seq((1L, 2L, 2L), (2L, 2L, 4L), (3L, 1L, 3L)))
    // n_docs totals back to the corpus: the histogram is a partition
    // of the assignment
    assert(got.map(_._3).sum === 9L)
  }

  test("canonicalByScore picks the highest-score member, ties by smallest id") {
    val s = spark
    import s.implicits._
    val comp = Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L))
      .toDF("id", "component")
    val scores = Seq((1L, 10L), (2L, 40L), (3L, 40L), (5L, 7L),
      (6L, 3L)).toDF("id", "score")
    val got = Dedup.canonicalByScore(comp, scores)
      .orderBy("component").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // cluster 1: scores (10,40,40) -> max 40, tie 2 vs 3 -> 2
    // cluster 5: max score 7 -> id 5
    assert(got === Seq((1L, 2L, 3L), (5L, 5L, 2L)))
  }

  test("ContainmentIndex save/load roundtrip: same gate results, exchange-free id join") {
    val s = spark
    val corpus = docsDf(Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "lambda mu nu xi omicron pi rho sigma tau upsilon"),
      (3L, "one two three four five six seven eight nine ten")))
    val probes = docsDf(Seq(
      (100L, "gamma delta epsilon zeta eta"),   // fragment of doc 1
      (101L, "unrelated words entirely here now")))
    val fresh = Dedup.ContainmentIndex.build(corpus, "doc_id", "text")
    Dedup.ContainmentIndex.save(fresh, "ci_rt", buckets = 4)
    try {
      val loaded = Dedup.ContainmentIndex.load(s, "ci_rt")
      def gate(ix: Dedup.ContainmentIndex) =
        Dedup.prefixContainmentPairsAgainstIndex(probes, ix,
            "doc_id", "text", threshold = 0.8)
          .orderBy("id_a", "id_b").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq
      val a = gate(fresh)
      val b = gate(loaded)
      assert(a === b)
      assert(a === Seq((100L, 1L)))
      // the staging layout pays off at read time: the corpus-side
      // sh ⋈ shSizes id join plans with no Exchange on either
      // corpus-sized side (both tables bucketed by id)
      val old = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val plan = loaded.sh.join(loaded.shSizes, "id")
          .queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"),
          s"bucketed index join should not shuffle:\n$plan")
      } finally
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    } finally Seq("_sh", "_df", "_shsizes", "_toks", "_sizes")
      .foreach(t => s.sql(s"DROP TABLE IF EXISTS ci_rt$t"))
  }

  test("ResemblanceIndex save/load roundtrip: same gate results, exchange-free staged joins") {
    val s = spark
    val corpus = docsDf(Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely different text with no overlap whatsoever here")))
    val arrivals = docsDf(Seq(
      (100L, "the quick brown fox jumps over the lazy dog tonight"),
      (101L, "unrelated words entirely in this arriving row now")))
    val fresh = Dedup.ResemblanceIndex.build(corpus, "doc_id", "text")
    Dedup.ResemblanceIndex.save(fresh, "ri_rt", buckets = 4)
    try {
      val loaded = Dedup.ResemblanceIndex.load(s, "ri_rt")
      def gate(ix: Dedup.ResemblanceIndex) =
        Dedup.lshVerifiedPairsAgainstIndex(arrivals, ix,
            "doc_id", "text", threshold = 0.3)
          .orderBy("id_new", "id_corpus").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      val a = gate(fresh)
      val b = gate(loaded)
      assert(a === b)
      assert(a.map(p => (p._1, p._2)) === Seq((100L, 1L)))
      // one-arg form ≡ index form (the refactor cannot drift)
      val direct = Dedup.lshVerifiedPairsAgainst(arrivals, corpus,
          "doc_id", "text", threshold = 0.3)
        .orderBy("id_new", "id_corpus").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(direct === a)
      // staged verification tables are co-bucketed by id: the
      // toks ⋈ sizes corpus-side join plans with no Exchange on
      // either corpus-sized side
      val old = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val plan = loaded.toks.join(loaded.sizes, "id")
          .queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"),
          s"bucketed index join should not shuffle:\n$plan")
      } finally
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    } finally Seq("_bands", "_toks", "_sizes")
      .foreach(t => s.sql(s"DROP TABLE IF EXISTS ri_rt$t"))
  }

  test("ResemblanceIndex append: admitted docs become corpus members") {
    val s = spark
    val corpus = docsDf(Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely different text with no overlap whatsoever here")))
    // batch1 is UNIQUE relative to the corpus (admitted); probe2 is an
    // exact dup of batch1 (identical signature — every band collides
    // by construction, so the test never depends on probabilistic
    // band luck): it must be invisible before the append, flagged after
    val batch1 = docsDf(Seq(
      (100L, "seven silver ships sail silently toward southern shores tonight")))
    val probe2 = docsDf(Seq(
      (200L, "seven silver ships sail silently toward southern shores tonight")))
    Dedup.ResemblanceIndex.save(
      Dedup.ResemblanceIndex.build(corpus, "doc_id", "text"),
      "ri_ap", buckets = 4)
    try {
      def gate() = Dedup.lshVerifiedPairsAgainstIndex(probe2,
          Dedup.ResemblanceIndex.load(s, "ri_ap"),
          "doc_id", "text", threshold = 0.3)
        .orderBy("id_new", "id_corpus").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(gate() === Seq.empty)
      Dedup.ResemblanceIndex.append(
        Dedup.ResemblanceIndex.build(batch1, "doc_id", "text"),
        "ri_ap", buckets = 4)
      assert(gate() === Seq((200L, 100L)))
      // appended index ≡ fresh index over the grown corpus
      val fresh = Dedup.lshVerifiedPairsAgainst(probe2,
          corpus.unionByName(batch1), "doc_id", "text", threshold = 0.3)
        .orderBy("id_new", "id_corpus").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(fresh === Seq((200L, 100L)))
      // the append preserved the bucketed layout: staged id join
      // still plans exchange-free
      val loaded = Dedup.ResemblanceIndex.load(s, "ri_ap")
      val old = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val plan = loaded.toks.join(loaded.sizes, "id")
          .queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"),
          s"append must preserve the bucketed layout:\n$plan")
      } finally
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    } finally Seq("_bands", "_toks", "_sizes")
      .foreach(t => s.sql(s"DROP TABLE IF EXISTS ri_ap$t"))
  }

  test("streaming gate + merge maintains clusters across micro-batches") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = s.sqlContext
    val corpus = docsDf(Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "totally different words here entirely unrelated")))
    // standing state: the (empty) assignment; each micro-batch's gate
    // pairs fold in via mergeComponents — the foreachBatch production
    // shape for incremental corpus clustering
    var assign = Dedup.connectedComponents(pairsDf(Nil), "id_a", "id_b")
    val mem = MemoryStream[(Long, String)]
    val q = Dedup.nearDupGateStream(
        mem.toDF().toDF("doc_id", "text"), corpus,
        "doc_id", "text", threshold = 0.6) { pairs =>
      assign = Dedup.mergeComponents(assign, pairs,
        "id_new", "id_corpus").localCheckpoint()
    }
    def state = assign.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    try {
      mem.addData((100L, "alpha beta gamma delta epsilon zeta eta theta"))
      q.processAllAvailable()
      assert(state === Map(1L -> 1L, 100L -> 1L))
      // a second batch near-dups the same corpus doc: transitively it
      // joins doc 100's cluster even though the gate never compared
      // the two stream docs to each other
      mem.addData(
        (101L, "alpha beta gamma delta epsilon zeta eta theta iota"))
      q.processAllAvailable()
      assert(state === Map(1L -> 1L, 100L -> 1L, 101L -> 1L))
      // an unrelated doc leaves the state untouched
      mem.addData((102L, "nothing shared with anything at all whatsoever"))
      q.processAllAvailable()
      assert(state === Map(1L -> 1L, 100L -> 1L, 101L -> 1L))
    } finally q.stop()
  }

  test("streaming exact dedup: in-horizon dups dropped, post-eviction re-arrivals re-emitted") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = s.sqlContext
    val mem = MemoryStream[(Long, String, Long)]
    val deduped = Dedup.exactDedupStream(
      mem.toDF().toDF("doc_id", "text", "sec")
        .withColumn("ts", timestamp_seconds(col("sec"))).drop("sec"),
      "text", "ts", delay = "30 seconds")
    val sink = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    val q = deduped.writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        sink ++= b.collect().map(r =>
          (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
        ()
      }
      .start()
    try {
      // batch 1: a dup inside the horizon — first arrival only
      mem.addData((1L, "same content", 10L), (2L, "same content", 11L),
        (3L, "other content", 12L))
      q.processAllAvailable()
      assert(sink.map(_._1).sorted.toSeq === Seq(1L, 3L))
      // batch 2: advance the watermark far past batch 1 (evicts state)
      mem.addData((4L, "advancing content", 100L))
      q.processAllAvailable()
      // batch 3: same content re-arrives AFTER eviction → re-emitted
      // (the documented horizon trade; batch d1 reconciles downstream)
      mem.addData((5L, "same content", 101L))
      q.processAllAvailable()
      assert(sink.map(_._1).sorted.toSeq === Seq(1L, 3L, 4L, 5L))
      // and a dup of the re-arrival inside the new horizon still drops
      mem.addData((6L, "same content", 102L))
      q.processAllAvailable()
      assert(sink.map(_._1).sorted.toSeq === Seq(1L, 3L, 4L, 5L))
    } finally q.stop()
  }

  test("dupNgramFilter drops docs above the duplicated-gram threshold") {
    // 2-grams: doc1 {a b, b c}, doc2 {a b, b x} share "a b" → both
    // dup_frac 0.5; doc3 is unique → 0.0; doc4 duplicates doc1 wholly
    // → 1.0 (and drags doc1 to 1.0 as well).
    val df = docsDf(Seq(
      (1L, "a b c"), (2L, "a b x"), (3L, "z y w"), (4L, "a b c")))
    def kept(maxFrac: Double): Seq[Long] =
      Dedup.dupNgramFilter(df, "doc_id", "text", n = 2, maxFrac)
        .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept(0.4) === Seq(3L))
    // threshold is inclusive on the rounded fraction
    assert(kept(0.5) === Seq(2L, 3L))
    assert(kept(1.0) === Seq(1L, 2L, 3L, 4L))
  }

  test("semanticDedupKeep keeps the smallest id of a near-dup group") {
    val s = spark
    import s.implicits._
    // sign-bit buckets over the axis planes: all-positive vectors land
    // in bucket 3; (-1, 0.5) lands alone in bucket 2.
    val hp = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val emb = Seq(
      (1L, Array(1.0, 0.01), 7),    // kept: smallest of the dup group
      (2L, Array(0.999, 0.02), 7),  // cos≈1 vs id 1 → dropped
      (3L, Array(0.01, 1.0), 8),    // same bucket, near-orthogonal → kept
      (4L, Array(-1.0, 0.5), 9),    // own bucket → kept
      (5L, Array(0.998, 0.015), 7)) // cos≈1 vs id 1 → dropped
      .toDF("vec_id", "embedding", "label")
    val kept = Dedup.semanticDedupKeep(emb, "vec_id", "embedding", hp,
        minCosine = 0.9)
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept === Seq(1L, 3L, 4L))
    // a permissive threshold keeps everyone
    val all = Dedup.semanticDedupKeep(emb, "vec_id", "embedding", hp,
        minCosine = 1.1)
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(all === Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("containment pairs: asymmetric quote detection, values match brute force") {
    // doc 2 embeds doc 1's text whole inside a longer page: low
    // resemblance, containment(1 in 2) = 1.0 — the pair Jaccard-based
    // removal misses. doc 3 is unrelated.
    val texts = Map(
      1L -> "alpha beta gamma delta epsilon zeta eta theta",
      2L -> ("alpha beta gamma delta epsilon zeta eta theta " +
        "iota kappa lambda mu nu xi omicron pi rho sigma tau"),
      3L -> "one two three four five six seven eight nine ten",
      4L -> "alpha beta gamma delta epsilon zeta eta theta") // = doc 1
    val df = docsDf(texts.toSeq.map { case (i, t) => (i, t) })
    val got = Dedup.lshVerifiedContainmentPairs(df, "doc_id", "text",
        threshold = 0.9)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getDouble(2), r.getDouble(3)))).toMap
    // exact duplicates are guaranteed candidates: containment 1 both ways
    assert(got((1L, 4L)) === ((1.0, 1.0)))
    // every emitted value equals the brute-force containment of the
    // distinct token sets
    def toks(i: Long) = texts(i).split(" ").toSet
    got.foreach { case ((a, b), (cab, cba)) =>
      val i = (toks(a) & toks(b)).size.toDouble
      assert(cab === BigDecimal(i / toks(a).size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      assert(cba === BigDecimal(i / toks(b).size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      assert(math.max(cab, cba) >= 0.9)
    }
    // no unrelated pair sneaks in
    assert(!got.keySet.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("prefix containment finds the fragment⊂page pair the LSH bands miss") {
    // a 12-token fragment of a 100-token page: token containment 1.0
    // but resemblance ~0.1, so the resemblance-banded d34 candidates
    // (deterministically, for this fixture) never pair them — the
    // documented recall gap the prefix-filter variant closes
    val pageToks = (0 until 100).map(i => s"tok$i")
    val page = pageToks.mkString(" ")
    val fragment = pageToks.slice(10, 22).mkString(" ")
    val noise = (0 until 60).map(i => s"other$i").mkString(" ")
    val df = docsDf(Seq(1L -> page, 2L -> fragment, 3L -> noise))
    val lsh = Dedup.lshVerifiedContainmentPairs(df, "doc_id", "text",
        threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!lsh.contains((1L, 2L)),
      "fixture invalid: resemblance LSH found the fragment pair")
    val got = Dedup.prefixVerifiedContainmentPairs(df, "doc_id", "text",
        threshold = 0.9)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getDouble(2), r.getDouble(3)))).toMap
    assert(got.contains((1L, 2L)), s"fragment pair missed: $got")
    // c(page side)=12/100, c(fragment side)=1.0
    assert(got((1L, 2L)) === ((0.12, 1.0)))
    assert(!got.keySet.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("containment gate flags arriving fragments the resemblance gate misses") {
    // corpus holds a 100-token page; an arriving 12-token fragment of
    // it has containment 1.0 but resemblance ~0.1 — the asymmetric
    // admission shape
    val pageToks = (0 until 100).map(i => s"tok$i")
    val corpus = docsDf(Seq(1L -> pageToks.mkString(" "),
      2L -> (0 until 60).map(i => s"other$i").mkString(" ")))
    val arrivals = docsDf(Seq(
      100L -> pageToks.slice(10, 22).mkString(" "), // fragment of 1
      101L -> "completely unrelated words here"))
    val resemblance = Dedup.lshVerifiedPairsAgainst(arrivals, corpus,
        "doc_id", "text", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!resemblance.contains((100L, 1L)),
      "fixture invalid: resemblance gate found the fragment")
    val got = Dedup.prefixContainmentPairsAgainst(arrivals, corpus,
        "doc_id", "text", threshold = 0.9)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getDouble(2), r.getDouble(3)))).toMap
    assert(got.keySet === Set((100L, 1L)), s"got $got")
    assert(got((100L, 1L)) === ((1.0, 0.12)))
  }

  test("containment gate runs per micro-batch against a pinned corpus index") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = s.sqlContext
    val pageToks = (0 until 100).map(i => s"page$i")
    val corpus = docsDf(Seq(1L -> pageToks.mkString(" ")))
    val mem = MemoryStream[(Long, String)]
    val flagged = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val q = Dedup.containmentGateStream(
        mem.toDF().toDF("doc_id", "text"), corpus,
        "doc_id", "text", threshold = 0.9) { pairs =>
      flagged ++= pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    try {
      mem.addData((200L, pageToks.slice(30, 45).mkString(" ")))
      q.processAllAvailable()
      mem.addData((201L, "no overlap with the page at all"))
      q.processAllAvailable()
      assert(flagged.toSeq === Seq(200L -> 1L))
    } finally q.stop()
  }

  test("prefix containment candidates: exact recall vs brute-force shingle containment") {
    val rnd = new scala.util.Random(23)
    val vocab = (0 until 30).map(i => s"w$i")
    val base = (1L to 30L).map { i =>
      val len = 5 + rnd.nextInt(26)
      i -> Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    // planted contiguous fragments (shingle containment 1.0 in their
    // source) plus the random corpus, so `must` is non-empty and the
    // filter also faces arbitrary partial overlaps
    val frags = (0 until 10).map { j =>
      val (srcId, srcText) = base(rnd.nextInt(base.size))
      val toks = srcText.split(" ").toSeq
      val len = 3 + rnd.nextInt(math.max(toks.size - 3, 1))
      val off = rnd.nextInt(toks.size - len + 1)
      (100L + j, toks.slice(off, off + len).mkString(" "))
    }
    val texts = base ++ frags
    val df = docsDf(texts)
    val t = 0.7
    val cand = Dedup.prefixContainmentCandidatePairs(df, "doc_id",
        "text", threshold = t)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force mirrors Dedup.shingles: 3-gram windows over the
    // token list (shorter tail window when len < 3), distinct
    def sh(s: String): Set[String] = {
      val toks = s.split(" ")
      (0 to math.max(toks.length - 3, 0))
        .map(i => toks.slice(i, i + 3).mkString(" ")).toSet
    }
    val must = for {
      a <- texts; b <- texts if a._1 < b._1
      sa = sh(a._2); sb = sh(b._2)
      i = (sa & sb).size.toDouble
      if i / sa.size >= t || i / sb.size >= t
    } yield (a._1, b._1)
    assert(must.nonEmpty, "fixture produced no containment pairs")
    val missed = must.toSet -- cand
    assert(missed.isEmpty, s"prefix filter missed: $missed")
    // and the end-to-end verify emits exactly the brute-force token
    // containment values on its candidates
    val got = Dedup.prefixVerifiedContainmentPairs(df, "doc_id", "text",
        threshold = t)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getDouble(2), r.getDouble(3)))).toMap
    def toks(i: Long) = texts.find(_._1 == i).get._2.split(" ").toSet
    got.foreach { case ((a, b), (cab, cba)) =>
      val i = (toks(a) & toks(b)).size.toDouble
      assert(cab === BigDecimal(i / toks(a).size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      assert(cba === BigDecimal(i / toks(b).size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      assert(math.max(cab, cba) >= t)
    }
  }

  test("semanticDupIds anti-join preserves docs without an embedding row") {
    // Regression for the llm_curate_full composition: the corpus is only
    // PARTIALLY embedded, so the semantic stage must be an anti-join on
    // the DROP set — a semi-join on the kept embeddings would silently
    // drop every uncovered doc (here ids 10 and 11).
    val s = spark
    import s.implicits._
    val hp = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val emb = Seq(
      (1L, Array(1.0, 0.01)),   // keep root of the dup group
      (2L, Array(0.999, 0.02)), // near-dup of 1 → in the drop set
      (3L, Array(0.01, 1.0)))   // same bucket, near-orthogonal → kept
      .toDF("vec_id", "embedding")
    val drop = Dedup.semanticDupIds(emb, "vec_id", "embedding", hp,
      minCosine = 0.9)
    assert(drop.collect().map(_.getLong(0)).toSeq === Seq(2L))
    val docs = docsDf(Seq(
      (1L, "a"), (2L, "b"), (3L, "c"), (10L, "no emb"), (11L, "no emb 2")))
    val survivors = docs
      .join(drop.select(col("drop_id").as("doc_id")), Seq("doc_id"),
        "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(survivors === Seq(1L, 3L, 10L, 11L))
  }

  test("connected components: empty, self-loop, and null pairs") {
    assert(ccMap(Nil) === Map.empty)
    // self-loops and nulls are dropped, not components
    val s = spark
    import s.implicits._
    val df = Seq[(java.lang.Long, java.lang.Long)](
      (1L, 1L), (2L, 3L), (null, 5L)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(df, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(2L -> 2L, 3L -> 2L))
  }

  test("DedupArtifacts: pinned equality and durable roundtrip") {
    import graft.pipeline.DedupArtifacts
    val s = spark
    // the planted near-dup trio from the lshVerifiedJaccardPairs test
    // (known to collide in the portable LSH bands), plus isolates
    val corpus = docsDf(Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "the quick brown fox jumps over the lazy dog together"),
      (4L, "completely different text with no overlap whatsoever here"),
      (5L, "totally unrelated content with unique words in this row")))
    def pc(a: DedupArtifacts) = (
      a.pairs.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq,
      a.components.collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq)
    val direct = pc(DedupArtifacts.build(corpus, "doc_id", "text", 0.3))
    // pinning changes lineage (checkpoint), never rows
    val pinned = DedupArtifacts.buildPinned(corpus, "doc_id", "text", 0.3)
    assert(pc(pinned) === direct)
    assert(direct._1.nonEmpty && direct._2.nonEmpty)
    // durable roundtrip: bucketed staging tables reload row-equal, and
    // a components self-join on the bucket key plans exchange-free
    DedupArtifacts.save(pinned, "da_rt", buckets = 4)
    try {
      val loaded = DedupArtifacts.load(s, "da_rt")
      assert(pc(loaded) === direct)
      val old = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val plan = loaded.components.join(
            DedupArtifacts.load(s, "da_rt").components, "id")
          .queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"),
          s"bucketed components join should not shuffle:\n$plan")
      } finally
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    } finally Seq("_pairs", "_components")
      .foreach(t => s.sql(s"DROP TABLE IF EXISTS da_rt$t"))
  }

  test("bandedHammingPairs equals brute force: the pigeonhole exactness") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(733)
    (1 to 3).foreach { trial =>
      // random 60-bit hashes plus PLANTED neighbors at dist 1..4 so
      // the in-budget band (<=3) and out-of-budget (4) cases exist
      val base = Seq.fill(20)(rnd.nextLong().abs & ((1L << 60) - 1))
      def flip(h: Long, k: Int): Long = {
        var x = h
        rnd.shuffle((0 until 60).toList).take(k)
          .foreach(b => x ^= 1L << b)
        x
      }
      val hs = (base ++ base.take(6).zipWithIndex.map {
        case (h, i) => flip(h, i % 4 + 1) }).zipWithIndex
        .map { case (h, i) => (i.toLong, h) }
      val got = Dedup.bandedHammingPairs(hs.toDF("id", "h"),
          "id", "h", bits = 60, bands = 4, maxDist = 3)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val want = (for {
        (idA, hA) <- hs; (idB, hB) <- hs if idA < idB
        d = java.lang.Long.bitCount(hA ^ hB) if d <= 3
      } yield (idA, idB) -> d.toLong).toMap
      assert(got === want, s"trial=$trial")
      assert(want.nonEmpty, "fixture must plant in-budget neighbors")
    }
  }

  test("bandedHammingPairs: maxDist beyond the pigeonhole bound fails loudly") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, 1L), (2L, 2L)).toDF("id", "h")
    intercept[IllegalArgumentException] {
      Dedup.bandedHammingPairs(df, "id", "h", 60, 4, maxDist = 4)
    }
    intercept[IllegalArgumentException] {
      Dedup.bandedHammingPairs(df, "id", "h", 60, 7, maxDist = 2)
    }
  }

  test("simhash60PortableNative is bit-identical to the declarative form") {
    val s = spark
    import s.implicits._
    val fixture = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val diff = fixture.select(
        Dedup.simhash60Portable(col("toks")).as("a"),
        Dedup.simhash60PortableNative(col("toks")).as("b"))
      .filter(!(col("a") <=> col("b"))).count()
    assert(diff === 0L)
    // degenerate inputs: empty token, single token, repeated tokens,
    // and a NULL element (votes -1 on every bit in BOTH forms)
    val hand = Seq(Seq(""), Seq("x"), Seq("x", "x", "y"),
      Seq("the", "quick", "brown", "fox"))
      .toDF("toks")
      .select(col("toks"))
      .unionByName(spark.range(1).select(
        array(lit("x"), lit(null).cast("string"), lit("x"))
          .as("toks")))
    val handDiff = hand.select(
        Dedup.simhash60Portable(col("toks")).as("a"),
        Dedup.simhash60PortableNative(col("toks")).as("b"))
      .collect()
    handDiff.foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("fuzzyValuePairs: substitution recall, blocking contract, counts") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      "red widget", "red widget", "red widget",   // n = 3
      "rad widget",                               // 1 char in token 0
      "red gadget",                               // token-1 substitution
      "blue bolt",                                // unrelated
      "bluu bolt",                                // near "blue bolt"
      "rad gadget")                               // 2 subs from "red widget"
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "name")
    val got = Dedup.fuzzyValuePairs(rows, "name", maxDist = 5)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    // every 1-token-substitution pair within dist 5 is found, with
    // value counts carried through
    assert(got(("rad widget", "red widget")) === ((1L, 3L, 1L)))
    assert(got(("red gadget", "red widget")) === ((1L, 3L, 2L)))
    assert(got(("blue bolt", "bluu bolt")) === ((1L, 1L, 1L)))
    assert(got(("rad gadget", "red gadget")) === ((1L, 1L, 1L)))
    assert(got(("rad gadget", "rad widget")) === ((1L, 1L, 2L)))
    // the 2-slot-substitution pair shares NO delete-1 key: not a
    // candidate even though lev("rad gadget","red widget") = 4 <= 5 --
    // the declared blocking neighborhood, asserted so it cannot
    // silently change
    assert(!got.contains(("rad gadget", "red widget")))
    // unrelated names never pair
    assert(!got.keys.exists { case (a, b) =>
      (a.contains("widget") || a.contains("gadget")) &&
        b.contains("bolt") })
  }

  test("fuzzyValuePairs: one-token insert/delete pairs found via the " +
    "delete-0 identity key") {
    val s = spark
    import s.implicits._
    // "foo bar baz" delete-1 at slot 2 == "foo baz" delete-0 — the
    // round-9 advice gap: within maxDist but sharing no delete-1 key
    val rows = Seq("foo bar baz", "foo baz", "quick brown fox",
      "quick fox")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "name")
    def pairs(maxDist: Int) =
      Dedup.fuzzyValuePairs(rows, "name", maxDist)
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(4))
        .toMap
    // dist("foo bar baz","foo baz") = 4: candidate AND verified at 5
    val at5 = pairs(5)
    assert(at5(("foo bar baz", "foo baz")) === 4L)
    assert(at5.size === 1) // "quick brown fox"/"quick fox" is dist 6
    // at maxDist 6 the second insert/delete pair verifies too
    val at6 = pairs(6)
    assert(at6(("quick brown fox", "quick fox")) === 6L)
    assert(at6.size === 2) // never a cross-family pair
  }

  test("fuzzyValuePairs: maxDist gates the verify; dist is the real distance") {
    val s = spark
    import s.implicits._
    val rows = Seq("alpha beta", "alphaxxxxx beta")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "name")
    // shared delete-1 key "beta", lev = 5
    val wide = Dedup.fuzzyValuePairs(rows, "name", maxDist = 5).collect()
    assert(wide.length === 1 && wide.head.getLong(4) === 5L)
    val tight = Dedup.fuzzyValuePairs(rows, "name", maxDist = 4)
    assert(tight.count() === 0L)
  }

  // planted corpus for the ExactSubstr span family (n = 3):
  //   P = "p1..p5" shared by docs 1 (middle), 2 (head), 3 (tail);
  //   "q1 q2 q3" / "r1 r2 r3" shared by 4 and 5 with gaps > n (two
  //   separate spans each); doc 6 unique; 7 = 8 exactly (whole-doc
  //   span); 11/12 share two phrases with gap exactly n (merge) vs
  //   n+1 (no merge) — the boundary of the q <= p + n chain rule.
  private val spanDocs = Seq(
    (1L, "u1 u2 p1 p2 p3 p4 p5 u3 u4"),
    (2L, "p1 p2 p3 p4 p5 v1 v2"),
    (3L, "w1 w2 w3 p1 p2 p3 p4 p5"),
    (4L, "q1 q2 q3 z1 r1 r2 r3"),
    (5L, "q1 q2 q3 y1 y2 y3 y4 r1 r2 r3"),
    (6L, "n1 n2 n3 n4"),
    (7L, "c1 c2 c3"),
    (8L, "c1 c2 c3"),
    (11L, "s1 s2 s3 t1 t2 t3 x9"),
    (12L, "s1 s2 s3 mm t1 t2 t3"))

  test("dupSpans: boundary spans, chained overlaps, exact-gap merge") {
    val got = Dedup.dupSpans(docsDf(spanDocs), "doc_id", "text", n = 3)
      .orderBy("id", "span_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4))).toSeq
    assert(got === Seq(
      // middle / head / tail placements of the shared phrase P: the
      // three overlapping dup 3-grams chain into the full 5-word span
      (1L, 3L, 7L, 5L, "p1 p2 p3 p4 p5"),
      (2L, 1L, 5L, 5L, "p1 p2 p3 p4 p5"),
      (3L, 4L, 8L, 5L, "p1 p2 p3 p4 p5"),
      // two shared phrases, gaps > n: two DISTINCT spans per doc
      (4L, 1L, 3L, 3L, "q1 q2 q3"),
      (4L, 5L, 7L, 3L, "r1 r2 r3"),
      (5L, 1L, 3L, 3L, "q1 q2 q3"),
      (5L, 8L, 10L, 3L, "r1 r2 r3"),
      // whole-doc duplication degenerates to one full-width span
      (7L, 1L, 3L, 3L, "c1 c2 c3"),
      (8L, 1L, 3L, 3L, "c1 c2 c3"),
      // gap EXACTLY n (starts 1 and 4): covered ranges touch -> merge
      (11L, 1L, 6L, 6L, "s1 s2 s3 t1 t2 t3"),
      // gap n+1 (starts 1 and 5): one word survives between spans
      (12L, 1L, 3L, 3L, "s1 s2 s3"),
      (12L, 5L, 7L, 3L, "t1 t2 t3")), got.mkString("\n"))
  }

  test("spanExcise: surgery keeps hosts, empties full dups, conserves words") {
    val got = Dedup.spanExcise(docsDf(spanDocs), "doc_id", "text", n = 3)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4))).toSeq
    assert(got === Seq(
      (1L, 1L, 9L, 5L, "u1 u2 u3 u4"),
      (2L, 1L, 7L, 5L, "v1 v2"),
      (3L, 1L, 8L, 5L, "w1 w2 w3"),
      (4L, 2L, 7L, 6L, "z1"),
      (5L, 2L, 10L, 6L, "y1 y2 y3 y4"),
      // no duplicated gram -> document passes through untouched
      (6L, 0L, 4L, 0L, "n1 n2 n3 n4"),
      // whole-doc dup excises to the EMPTY string (doc-level dedup
      // degenerating out of the span form)
      (7L, 1L, 3L, 3L, ""),
      (8L, 1L, 3L, 3L, ""),
      (11L, 1L, 7L, 6L, "x9"),
      (12L, 2L, 7L, 6L, "mm")), got.mkString("\n"))
    // conservation: kept words + removed words == total words
    got.foreach { case (id, _, nw, nr, clean) =>
      val kept = if (clean.isEmpty) 0 else clean.split(" ").length
      assert(kept + nr === nw, s"doc $id: $kept + $nr != $nw")
    }
  }

  test("contaminationReport invariants on a seeded random corpus: " +
    "a bench doc in train flags fully, hits never exceed grams, " +
    "adding bench docs is monotone") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(77)
    val words = Vector("ta", "re", "mo", "ki", "su", "ne")
    def doc(n: Int): String =
      Seq.fill(n)(words(rnd.nextInt(words.size))).mkString(" ")
    val train = (1L to 25L).map(i => (i, doc(3 + rnd.nextInt(10))))
      .toDF("doc_id", "text").localCheckpoint()
    val benchSmall = train.filter(col("doc_id") <= 3L)
      .select(col("doc_id") + 1000L, col("text"))
      .toDF("doc_id", "text")
    val benchBig = benchSmall.unionAll(
      (1L to 5L).map(i => (2000L + i, doc(6))).toDF("doc_id", "text"))
    def report(b: org.apache.spark.sql.DataFrame) =
      Dedup.contaminationReport(train, "doc_id", "text", b, "text",
          k = 3)
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2))).toMap
    val small = report(benchSmall)
    val big = report(benchBig)
    // docs 1-3 ARE bench docs (re-id'd): every gram hits
    (1L to 3L).foreach { i =>
      assert(small(i)._1 === small(i)._2 && small(i)._1 > 0L,
        small.toString)
    }
    (1L to 25L).foreach { i =>
      // hits bounded by grams; a bigger bench never un-flags
      assert(small(i)._2 <= small(i)._1, small.toString)
      assert(big(i)._2 >= small(i)._2, s"$i: $small vs $big")
      assert(big(i)._1 === small(i)._1, "n_grams is bench-independent")
    }
  }

  test("decontaminateStream: leaky rows drop per batch, clean rows " +
    "pass, replay re-emits clean rows only (stateless gate)") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = s.sqlContext
    val bench = Seq((100L, "secret eval answer here"))
      .toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    val seen = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val q = Dedup.decontaminateStream(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
      bench, "text", k = 3) { b =>
      seen ++= b.collect().map(r =>
        (r.getAs[Long]("batch_id"), r.getAs[Long]("doc_id")))
    }
    try {
      mem.addData(
        (1L, "padding secret eval answer more pad"), // leaks
        (2L, "totally different words entirely")) // clean
      q.processAllAvailable()
      // a REPLAY of the same rows: the gate is stateless, so the
      // clean row re-emits (at-least-once passthrough) and the leaky
      // row is still dropped — no interleaving leaks it
      mem.addData(
        (1L, "padding secret eval answer more pad"),
        (2L, "totally different words entirely"),
        (3L, "eval secret here answer reordered")) // words, no 3-gram
      q.processAllAvailable()
      val byBatch = seen.groupBy(_._1).view
        .mapValues(_.map(_._2).toSet).toMap
      assert(byBatch(0L) === Set(2L), seen.toString)
      assert(byBatch(1L) === Set(2L, 3L), seen.toString)
    } finally q.stop()
  }

  test("decontaminateBatch: batched union over any split equals the " +
    "one-shot contaminationReport-filtered clean set (d79)") {
    val s = spark
    import s.implicits._
    val bench = Seq((100L, "secret eval answer here"))
      .toDF("doc_id", "text")
    val train = (1L to 30L).map { i =>
      val t = if (i % 5L == 0L) s"pad $i secret eval answer tail"
        else s"clean words only number $i here"
      (i, t)
    }.toDF("doc_id", "text")
    val bg = Dedup.decontaminateState(bench, "text", k = 3)
    val oneShot = Dedup.contaminationReport(train, "doc_id", "text",
        bench, "text", k = 3)
      .filter(!col("contaminated"))
      .select("id").collect().map(_.getLong(0)).toSet
    // two different splits, one with a redelivered (duplicated)
    // batch: the stateless gate's emitted-clean id set is invariant
    Seq(Seq(0L, 1L, 2L), Seq(2L, 0L, 1L, 0L)).foreach { order =>
      val emitted = order.flatMap { b =>
        Dedup.decontaminateBatch(
            train.filter(pmod(col("doc_id"), lit(3L)) === b),
            "doc_id", "text", bg, k = 3)
          .select("doc_id").collect().map(_.getLong(0))
      }.toSet
      assert(emitted === oneShot, s"order $order")
    }
  }

  test("contaminationReport: a planted eval leak flags, a disjoint " +
    "doc does not, a sub-k doc reports zero grams") {
    val s = spark
    import s.implicits._
    val bench = Seq((100L, "secret eval answer here"))
      .toDF("doc_id", "text")
    val train = Seq(
      // contains the bench gram "secret eval answer" (and only it)
      (1L, "padding secret eval answer more pad"),
      // shares WORDS but no 3-gram — exact containment must not fuzz
      (2L, "eval secret here answer in other order"),
      (3L, "totally different words entirely"),
      (4L, "ab cd")) // under k tokens: no grams at all
      .toDF("doc_id", "text")
    val got = Dedup.contaminationReport(train, "doc_id", "text",
        bench, "text", k = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(got(1L) === ((4L, 1L, true)), got.toString)
    assert(got(2L)._2 === 0L && !got(2L)._3, got.toString)
    assert(got(3L) === ((2L, 0L, false)), got.toString)
    assert(got(4L) === ((0L, 0L, false)), got.toString)
  }
}
