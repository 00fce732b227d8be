package graft

import graft.io.TableLayout
import graft.ops.Skew
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ScaleOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("runtime bloom filter prunes the fact side of a selective join") {
    val s = spark
    import s.implicits._
    val dir = Staged.scratch("graft_bloom")
    // fact large relative to dim, dim selective: the injected bloom
    // filter on the fact scan is how Spark cuts shuffle input at scale
    // without any manual pre-filter
    (1L to 50000L).map(i => (i, i % 1000)).toDF("id", "k")
      .write.parquet(s"$dir/fact")
    (1L to 1000L).map(i => (i, i % 97)).toDF("k", "attr")
      .write.parquet(s"$dir/dim")
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "1GB",
      // production default is 10GB — the whole point of the rule is
      // big fact sides; shrink it so the test-sized fact qualifies
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1KB",
      "spark.sql.optimizer.runtimeFilter.number.threshold" -> "10",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (c, _) => c -> s.conf.getOption(c) }
    confs.foreach { case (c, v) => s.conf.set(c, v) }
    try {
      val joined = s.read.parquet(s"$dir/fact")
        .join(s.read.parquet(s"$dir/dim").filter(col("attr") === 7), "k")
      val plan = joined.queryExecution.optimizedPlan.toString
      assert(plan.contains("bloom_filter") ||
        plan.contains("BloomFilter"),
        s"runtime bloom filter expected in the optimized plan:\n$plan")
      assert(joined.count() > 0)
    } finally saved.foreach {
      case (c, Some(v)) => s.conf.set(c, v)
      case (c, None) => s.conf.unset(c)
    }
  }

  test("compaction shrinks the file count and preserves every row") {
    val s = spark
    import s.implicits._
    val dir = s"${Staged.scratch("graft_compact")}/t"
    val df = (1L to 2000L).toDF("id")
    df.repartition(24).write.parquet(dir) // 24 deliberately-small files
    val (before, after) = TableLayout.compact(s, dir,
      targetBytesPerFile = 1L << 20)
    assert(before === 24 && after < before)
    val back = s.read.parquet(dir)
    assert(back.count() === 2000L)
    assert(back.agg(sum("id")).head().getLong(0) === 2001000L)
  }

  test("salted count equals plain groupBy count on skewed data") {
    val s = spark
    import s.implicits._
    // Zipf-ish: one hot key with 5k rows, long tail
    val rows = Seq.fill(5000)("hot") ++
      (1 to 500).flatMap(i => Seq.fill(i % 7 + 1)(s"k$i"))
    val df = rows.zipWithIndex.map { case (k, i) => (k, i.toLong) }
      .toDF("key", "id")
    val plain = df.groupBy("key").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = Skew.saltedCount(df, col("key"), col("id"), buckets = 16)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted === plain)
    assert(salted("hot") === 5000L)
  }

  test("approx_count_distinct within rsd of exact on many keys") {
    val s = spark
    import s.implicits._
    val df = (1L to 20000L).map(i => (i % 4, i % 3000)).toDF("g", "u")
    val rows = df.groupBy("g").agg(
        approx_count_distinct(col("u"), rsd = 0.02).as("approx"),
        countDistinct(col("u")).as("exact"))
      .collect()
    rows.foreach { r =>
      val (a, e) = (r.getAs[Long]("approx").toDouble,
        r.getAs[Long]("exact").toDouble)
      assert(math.abs(a - e) / e < 0.1, s"group ${r.get(0)}: $a vs $e")
    }
  }

  test("bucketed tables join without an exchange on either side") {
    val s = spark
    import s.implicits._
    val facts = (1L to 1000L).map(i => (i % 100, i)).toDF("k", "v")
    val dims = (0L to 99L).map(i => (i, s"d$i")).toDF("k", "name")
    TableLayout.writeBucketed(facts, "facts_b", "k", 8)
    TableLayout.writeBucketed(dims, "dims_b", "k", 8)
    // disable broadcast so the join would normally shuffle both sides
    val old = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = TableLayout.readTable(s, "facts_b")
        .join(TableLayout.readTable(s, "dims_b"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join should not shuffle:\n$plan")
      assert(joined.count() === 1000)
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
      s.sql("DROP TABLE IF EXISTS facts_b")
      s.sql("DROP TABLE IF EXISTS dims_b")
    }
  }

  test("writeBucketed refuses database-qualified names (round-9 advice)") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "x")).toDF("k", "v")
    val e = intercept[IllegalArgumentException] {
      TableLayout.writeBucketed(df, "somedb.tbl", "k", 2)
    }
    assert(e.getMessage.contains("unqualified"))
  }

  test("writeBucketed orphan delete spares a directory a catalog " +
    "entry still references") {
    val s = spark
    import s.implicits._
    // park an EXTERNAL table (under a DIFFERENT name) whose location
    // is exactly the warehouse path writeBucketed computes for the
    // name 'guard_probe_data'. Before the guard, the overwrite path
    // silently DELETED that directory (it looked like an orphan);
    // now the delete must not fire — the write fails loudly on the
    // occupied location and the external table's data survives.
    val wh = s.conf.get("spark.sql.warehouse.dir")
    val loc = new java.io.File(new java.net.URI(
      wh.stripSuffix("/") + "/guard_probe_data"))
    try {
      Seq((7L, "keep")).toDF("k", "v").write.mode("overwrite")
        .parquet(loc.toString)
      s.sql("DROP TABLE IF EXISTS other_name")
      s.sql(s"CREATE TABLE other_name (k BIGINT, v STRING) " +
        s"USING parquet LOCATION '${loc.toString}'")
      intercept[Exception] {
        TableLayout.writeBucketed(Seq((1L, "a")).toDF("k", "v"),
          "guard_probe_data", "k", 2)
      }
      assert(s.read.parquet(loc.toString).count() >= 1L,
        "externally-referenced directory was deleted")
    } finally {
      s.sql("DROP TABLE IF EXISTS other_name")
      s.sql("DROP TABLE IF EXISTS guard_probe_data")
      org.apache.commons.io.FileUtils.deleteQuietly(loc)
    }
  }

  test("partitioned layout prunes partitions at scan time") {
    val s2 = spark
    import s2.implicits._
    val df = (1L to 300L)
      .map(i => (i, Seq("click", "view", "purchase")((i % 3).toInt)))
      .toDF("id", "event_type")
    val path = Staged.scratch("graft_events_part")
    TableLayout.writePartitioned(df, path, Seq("event_type"))
    val scan = s2.read.parquet(path)
      .filter(col("event_type") === "click")
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("event_type"), s"partition filter not pushed:\n$plan")
    assert(scan.count() === 100)
  }

  test("z-order layout: a two-dim filter skips most files on stats alone") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(3)
    val rows = (1 to 20000).map(_ =>
      (rnd.nextInt(1000).toDouble, rnd.nextInt(1000).toDouble))
    val df = rows.toDF("x", "y")
    val dir = Staged.scratch("graft_zorder")
    val z = TableLayout.zValue(Seq(
      TableLayout.binColumn(col("x"), 0, 999, 8),
      TableLayout.binColumn(col("y"), 0, 999, 8)), 8)
    TableLayout.writeZOrdered(df, s"$dir/z", z, files = 16)
    df.repartition(16).write.parquet(s"$dir/plain")
    // a file must be read for the query box x<100 AND y<100 iff its
    // column-stats bounding box intersects it — the decision parquet
    // row-group pruning (and a manifest-based lakehouse) makes from
    // min/max stats alone
    def touched(path: String): Int = {
      val files = new java.io.File(path).listFiles
        .filter(_.getName.endsWith(".parquet"))
      assert(files.length >= 14, s"expected ~16 files at $path")
      files.count { f =>
        val st = s.read.parquet(f.getAbsolutePath)
          .agg(min("x"), min("y")).head()
        st.getDouble(0) < 100 && st.getDouble(1) < 100
      }
    }
    // random layout: every file samples the whole square, so every
    // file's box intersects the corner
    assert(touched(s"$dir/plain") >= 14)
    // z-order: the corner tile is a contiguous z-range -> few files
    assert(touched(s"$dir/z") <= 4)
    // clustering changed layout, never data
    assert(s.read.parquet(s"$dir/z").count() === 20000)
  }

  test("AQE splits skewed join partitions at runtime") {
    val s2 = spark
    import s2.implicits._
    // one hyper-hot key (100k rows) + long tail, joined to a dim table
    val facts = ((1 to 100000).map(_ => 0L) ++ (1L to 2000L))
      .zipWithIndex.map { case (k, i) => (k, i.toLong) }.toDF("k", "v")
    val dims = (0L to 2000L).map(i => (i, s"d$i")).toDF("k", "name")
    val conf = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      // enough partitions that the size MEDIAN is a tail partition
      // (skew detection is size > max(threshold, factor * median))
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2")
    val old = conf.map { case (k, _) => k -> s2.conf.getOption(k) }
    try {
      conf.foreach { case (k, v) => s2.conf.set(k, v) }
      val joined = facts.join(dims, "k")
      // execute THIS QueryExecution so AQE materializes its final plan
      // (count() would build and execute a separate tree)
      assert(joined.collect().length === 102000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE should have split the skewed partition:\n$plan")
    } finally old.foreach {
      case (k, Some(v)) => s2.conf.set(k, v)
      case (k, None) => s2.conf.unset(k)
    }
  }

  test("exact-co-moment correlation matches built-in corr, any partitioning") {
    // q36's construction: micro-quantized inputs, exact decimal
    // co-moments, one final float divide. Against Spark's built-in
    // corr() the only differences are the 1e-6 input quantization and
    // the float accumulation order, so the results must agree to ~1e-5
    // — while the exact form returns the IDENTICAL bits under any
    // repartitioning (the property corr() lacks).
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val df = (1 to 20000).map { i =>
      val x = rnd.nextDouble() * 50
      (i % 3, x, x * 2.5 + rnd.nextDouble() * 40)
    }.toDF("g", "qty", "price")
    def exact(d: org.apache.spark.sql.DataFrame): Map[Int, Double] = {
      val m = d.select(col("g"),
        round(col("qty") * 1e6).cast("decimal(38,0)").as("x"),
        round(col("price") * 1e6).cast("decimal(38,0)").as("y"))
      m.groupBy("g").agg(
          count(lit(1)).cast("decimal(38,0)").as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .select(col("g"),
          ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
                .cast("double") *
              (col("n") * col("syy") - col("sy") * col("sy"))
                .cast("double"))).as("c"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    }
    val builtin = df.groupBy("g").agg(corr("qty", "price").as("c"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val a = exact(df)
    a.foreach { case (g, c) =>
      assert(math.abs(c - builtin(g)) < 1e-5, s"group $g: $c vs ${builtin(g)}")
    }
    // bit-identical under repartitioning — the determinism claim
    assert(exact(df.repartition(13)) === a)
  }

  test("exact-co-moment OLS recovers a known line") {
    // q37's arithmetic on noiseless y = 3x + 7: slope/intercept must
    // come back exact to the quantization (1e-6 inputs, round-6 output)
    val s = spark
    import s.implicits._
    val df = (1 to 5000).map { i =>
      val x = i / 100.0
      (x, 3.0 * x + 7.0)
    }.toDF("qty", "price")
    val m = df.select(
      round(col("qty") * 1e6).cast("decimal(38,0)").as("x"),
      round(col("price") * 1e6).cast("decimal(38,0)").as("y"))
    val r = m.agg(
        count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(
        ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
          .as("slope"),
        ((col("sy").cast("double") -
          ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
            * col("sx").cast("double")) /
          col("n").cast("double") / 1e6).as("intercept"))
      .collect().head
    assert(math.abs(r.getDouble(0) - 3.0) < 1e-9, s"slope ${r.getDouble(0)}")
    assert(math.abs(r.getDouble(1) - 7.0) < 1e-6,
      s"intercept ${r.getDouble(1)}")
  }
}
