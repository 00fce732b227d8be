package graft

import graft.Verify.jsonString

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // ~80 queries in one JVM: without periodic cleanup the shuffle
    // files and broadcast blocks of earlier queries pile up and a
    // random later query pays their GC bill as a multi-second spike
    // (observed moving between unrelated queries run-to-run).
    val spark = GraftSession.builder()
      .config("spark.cleaner.periodicGC.interval", "30s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // The TIMED ACTION (round-13 verdict finding 1): `.count()` lets
    // Catalyst prune whatever doesn't feed the count — d76's scoring
    // aggregation pruned to 0.17 s reported vs ~2.7 s true cost, and a
    // regression inside a pruned stage would be invisible to BENCH
    // deltas. A noop-sink write materializes EVERY column of every
    // row through the full plan (no aggregate pushdown, no column
    // pruning of the final projection), uniformly for all entries,
    // and still fires in-plan Observation counters (the observe +
    // writer pattern). SPARK_GRAFT_BENCH_ACTION=count keeps the old
    // action available for historical A/Bs; the one-time count-vs-full
    // delta is recorded in PLANS.md ("r14 bench action change").
    val benchAction = sys.env.getOrElse("SPARK_GRAFT_BENCH_ACTION", "full")
    def exec(df: org.apache.spark.sql.DataFrame): Unit =
      if (benchAction == "count") { df.count(); () }
      else df.write.mode("overwrite").format("noop").save()
    // warm-up: JIT + codegen + parquet footer caches on the smallest SF,
    // so the timed run measures the queries, not JVM warm-up. Warm-up
    // failures are logged (not fatal): a silently-skipped warm-up would
    // make the first timed run re-absorb JIT cost.
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_DIR",
      "/root/testdata/sf0.001")
    val selected = SparkEntry.selectedQueries
    selected.foreach { case (name, fn) =>
      try exec(fn(spark, warmDir))
      catch { case e: Throwable =>
        System.err.println(s"[bench] warm-up failed for $name on " +
          s"$warmDir: ${Option(e.getMessage).getOrElse(e.getClass.getName)}")
      }
    }
    // Drop warm-up leftovers (sf0.001-sized caches must not occupy the
    // store when the sf0.1 timed runs start), and discard the warm-up
    // runs' in-plan counters (they carry sf0.001 values).
    spark.catalog.clearCache()
    graft.ops.Counters.drain()
    // Standing CALIBRATION preamble (round-12 drift adjudication):
    // suite totals on this box carry ±20-25% state noise, and the
    // adjudicated signal is per-entry isolated A/Bs. Time three
    // trivially-planned standing queries in isolation BEFORE the
    // suite and ride them in the artifact's counters, so every future
    // drift call has same-run box-state reference points without a
    // re-run. Not folded into the total; failures skip silently (the
    // suite run below reports them properly).
    val calibration = Seq("s1_scan_project", "t4_rank_derive",
        "t1_sessionize")
      .flatMap { n =>
        selected.get(n).flatMap { fn =>
          // only SUCCESSFUL runs calibrate: a fail-fast elapsed time
          // would publish a bogus near-zero box-state reference (and
          // .min would prefer it over a valid timing)
          val ts = (1 to 2).flatMap { _ =>
            // same measurement conditions as the timed suite (r13
            // ADVICE): clearCache + System.gc OUTSIDE the timed
            // region, so the box-state reference points these publish
            // are comparable to the suite timings they adjudicate
            spark.catalog.clearCache()
            System.gc()
            val t0 = System.nanoTime()
            try { exec(fn(spark, sfDir))
              Some((System.nanoTime() - t0) / 1e9) }
            catch { case _: Throwable => None }
          }
          ts.minOption.map(n -> _)
        }
      }
    spark.catalog.clearCache()
    graft.ops.Counters.drain()
    // Errors are reported explicitly, never folded into the total as
    // negative time (a broken query must not make the bench look faster).
    // Two timed runs per query, min reported: steady-state cost, less
    // JIT/IO noise.
    val counterLines = scala.collection.mutable.LinkedHashMap[String, String]()
    if (calibration.nonEmpty) counterLines += "_calibration" ->
      calibration.map { case (n, t) =>
        s"${n.split('_').head}=${String.format(java.util.Locale.ROOT,
          "%.4f", Double.box(t))}"
      }.mkString(" ")
    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      def once(): (Double, Option[String]) = {
        val t0 = System.nanoTime()
        val outcome =
          try { exec(fn(spark, sfDir)); None }
          catch { case e: Throwable =>
            Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
          }
        ((System.nanoTime() - t0) / 1e9, outcome)
      }
      // Clear the previous queries' cached state OUTSIDE the timed
      // region: several queries persist()/localCheckpoint() internally
      // (m7's decode lineage, q38's bucket frame, the CleanPipeline
      // fork points) and those blocks otherwise accumulate across a
      // 140+-query single-JVM suite as memory pressure that unrelated
      // later queries pay for (round-7 driver bench drifted +11%
      // same-set with no plan change). clearCache drops everything the
      // CacheManager tracks; the System.gc() then enqueues dead
      // localCheckpoint RDDs for the ContextCleaner so their blocks
      // free before the next timed region, not during it.
      spark.catalog.clearCache()
      System.gc()
      val (t1, o1) = once()
      val r = if (o1.isDefined) (name, t1, o1)
        else { val (t2, o2) = once(); (name, math.min(t1, t2), o2) }
      // In-plan Observation counters registered by instrumented
      // pipelines (graft.ops.Counters) fire during the runs above;
      // drained HERE so each query's counters attach to its own name.
      // These are the numbers that adjudicate a timing drift from the
      // artifact alone: candidate volume grew → data shape; volume
      // flat but time up → the plan (or the suite) got worse.
      val cs = graft.ops.Counters.drain()
      if (cs.nonEmpty) counterLines += name ->
        cs.map { case (_, l, m) =>
          m.toSeq.sortBy(_._1).map { case (k, v) =>
            if (k == "rows") s"$l=$v" else s"$l.$k=$v"
          }.mkString(" ")
        }.mkString(" ")
      r
    }
    val ok = results.filter(_._3.isEmpty)
    val failed = results.collect { case (n, _, Some(msg)) => n -> msg }
    // Full-precision per-query timings go to stderr (one line each) for
    // log readers; the stdout contract line stays `{"metric":...}`-first
    // (the harness greps that prefix) but carries 3-significant-figure
    // timings under SHORTENED query keys: the harness captures only the
    // last ~1.9 KB of stdout, and rounds 4 and 5 both lost the head of
    // the line (metric/value plus the alphabetically-first ~30 timings)
    // because the full-name map outgrew the capture window. The leading
    // token of each name ("q17b_ntile_bucketed" -> "q17b") is unique
    // across the catalog — asserted below, with a full-name fallback on
    // collision so a future name clash degrades to a long line instead
    // of a corrupt one — and keeps the whole line ~1.4 KB.
    // Locale.ROOT throughout: f-interpolators use the default locale,
    // and a comma-decimal locale would corrupt the JSON contract line.
    def fmt(pattern: String, v: Double): String =
      String.format(java.util.Locale.ROOT, pattern, Double.box(v))
    results.foreach { case (n, t, _) =>
      System.err.println(s"[bench] $n ${fmt("%.4f", t)} s")
    }
    // Counter lines LAST (after the timings): the harness keeps only
    // the tail of the output, and these few lines are the ones that
    // explain a drifted timing without a re-run.
    counterLines.foreach { case (n, line) =>
      System.err.println(s"[counters] $n $line")
    }
    def sec(v: Double): String = fmt("%.3g", v)
    val leading = results.map { case (n, _, _) =>
      val t = n.split('_').head
      n -> (if (t.matches("[a-z]+\\d+[a-z]*")) t else n)
    }.toMap
    val collided = leading.groupBy(_._2).collect {
      case (_, vs) if vs.size > 1 => vs.keys
    }.flatten.toSet
    def shortKey(n: String): String =
      if (collided(n)) n else leading(n)
    val total = ok.map(_._2).sum
    // Truncation-proofing (round-6 postmortem: the harness keeps only
    // the LAST ~1.9 KB of stdout, so a growing queries map cuts the
    // LINE HEAD off — metric/value first — and corrupts the artifact).
    // The full-precision, full-name result JSON always goes to a file
    // under target/, and the stdout contract line carries its path +
    // content digest; the inline shortened queries map is included
    // only while the WHOLE line stays under a hard 1790-byte cap
    // (capture window ~1.9 KB, measured across rounds 4-6), so
    // suite growth degrades to "timings in the file" instead of a
    // corrupt line. Errors are capped at 5 inline (full set in the
    // file) for the same reason.
    val fullJson = {
      val qsFull = ok.map { case (k, v, _) =>
        s"${jsonString(k)}:${fmt("%.4f", v)}" }.mkString("{", ",", "}")
      val errsFull = failed.map { case (k, m) =>
        s"${jsonString(k)}:${jsonString(m)}" }.mkString("{", ",", "}")
      val ctrsFull = counterLines.map { case (k, line) =>
        s"${jsonString(k)}:${jsonString(line)}" }.mkString("{", ",", "}")
      s"""{"metric":"total","value":${fmt("%.4f", total)},"unit":"sec","queries":$qsFull,"errors":$errsFull,"counters":$ctrsFull,"sf":${jsonString(sfDir)}}"""
    }
    // fixed path (the sf is recorded INSIDE the file; the driver runs
    // one bench at a time) — every byte of the contract line counts
    val outPath = java.nio.file.Paths.get("target", "bench_full.json")
    java.nio.file.Files.createDirectories(outPath.getParent)
    java.nio.file.Files.write(outPath, fullJson.getBytes("UTF-8"))
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(fullJson.getBytes("UTF-8")).take(4)
      .map(b => f"$b%02x").mkString
    val errsInline = {
      val shown = failed.take(5).map { case (k, m) =>
        s"${jsonString(shortKey(k))}:${jsonString(m.take(80))}" }
      val extra =
        if (failed.size > 5) Seq(s""""_more":${failed.size - 5}""")
        else Seq.empty
      (shown ++ extra).mkString("{", ",", "}")
    }
    // Inline-map packing (r15, round-14 verdict item 1): at 289 entries
    // even the shortened-key full map (~3 KB) exceeds the 1790-byte cap,
    // so rounds 13-14 shipped the line with NO inline queries at all and
    // the driver's per-query delta and scaling blocks went dark. Pack
    // SLOWEST-FIRST and keep as many entries as fit under the cap: the
    // cut tail is the sub-noise cheap entries, the per-query signal
    // (the expensive ~140) stays driver-visible, and "q_omitted" records
    // how many were cut. Existing keys/semantics unchanged — entries are
    // only ADDED relative to the (empty) inline maps of rounds 13-14;
    // the full-precision full-name map still lands in bench_full.json
    // (path + sha in the line).
    def contract(inline: Seq[String], omitted: Int): String = {
      val q =
        if (inline.isEmpty && omitted == 0) ""
        else {
          val om = if (omitted > 0) s""","q_omitted":$omitted""" else ""
          s""","queries":${inline.mkString("{", ",", "}")}$om"""
        }
      s"""{"metric":"total","value":${sec(total)},"unit":"sec"$q,"errors":$errsInline,"full":${jsonString(outPath.toString)},"sha":"$digest","sf":"$sfDir"}"""
    }
    val byCost = ok.sortBy(-_._2)
      .map { case (k, v, _) => s"${jsonString(shortKey(k))}:${sec(v)}" }
    val packed = scala.collection.mutable.ArrayBuffer[String]()
    byCost.foreach { e =>
      if (contract((packed :+ e).toSeq, ok.size - packed.size - 1)
          .length <= 1790)
        packed += e
    }
    println(contract(packed.toSeq, ok.size - packed.size))
    spark.stop()
  }
}
