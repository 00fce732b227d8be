package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.functions.KllSketch
import graft.pipeline.Eval
import graft.streaming.Monitor
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MonitorSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** A sink that throws on its first call and hands later calls to
    * `next`: the failed delivery Spark retries under the same id. */
  private def failOnce(next: DataFrame => Unit): DataFrame => Unit = {
    var failed = false
    df =>
      if (failed) next(df)
      else { failed = true; throw new RuntimeException("sink") }
  }

  test("fold (KLL step): a failed sink leaves state and id unapplied; " +
    "a redelivered id neither re-emits nor double-counts; the next id " +
    "applies") {
    val s = spark
    import s.implicits._
    val k = 64
    val sunk = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    def goodSink(df: DataFrame): Unit =
      sunk ++= df.collect().map(r =>
        (r.getAs[Long]("batch_id"), r.getAs[Long]("n_seen")))
    def step(b: DataFrame, st: graft.functions.KllState) =
      Eval.kllBatchUpdate(b, col("v"), k, Seq(500L), st)
    val b0 = (1L to 50L).toDF("v")
    // a sink failure before the commit point: neither the sketch nor
    // the last-applied id advance, so the retry (same id) re-applies
    val f = new Monitor.Fold(new KllSketch(k).zero, step,
      failOnce(goodSink))
    intercept[RuntimeException](f(b0, 0L))
    assert(KllSketch.totalWeight(f.state) === 0L && f.lastApplied === -1L)
    f(b0, 0L)
    assert(sunk.toList === List((0L, 50L)) && f.lastApplied === 0L)
    // an at-least-once REDELIVERY of batch 0 after success: KLL merge
    // is not idempotent, so without the guard this would double the
    // weight to 100; the id check skips it — state and sink unchanged
    f(b0, 0L)
    assert(sunk.toList === List((0L, 50L)),
      "replayed id must not re-emit")
    assert(KllSketch.totalWeight(f.state) === 50L,
      "replayed id must not double-count weight")
    // the next fresh id still applies
    f((51L to 60L).toDF("v"), 1L)
    assert(sunk.toList === List((0L, 50L), (1L, 60L)))
  }

  test("fold (grouped KLL step): a redelivered id is skipped; " +
    "maxGroups refuses a third domain") {
    val s = spark
    import s.implicits._
    var sinks = 0
    val b0 = Seq(("a", 1L), ("a", 2L), ("b", 5L)).toDF("src", "v")
    def step(cap: Int)(b: DataFrame,
                       st: Map[String, graft.functions.KllState]) =
      Eval.kllGroupedBatchUpdate(b, col("src"), col("v"), 64, 500L, st,
        cap)
    val f = new Monitor.Fold(Map.empty[String, graft.functions.KllState],
      step(4096), _ => sinks += 1)
    f(b0, 0L)
    assert(sinks === 1 && KllSketch.totalWeight(f.state("a")) === 2L)
    // at-least-once redelivery: same id, no double-count, no re-emit
    f(b0, 0L)
    assert(sinks === 1 && KllSketch.totalWeight(f.state("a")) === 2L)
    f(b0, 1L)
    assert(sinks === 2 && KllSketch.totalWeight(f.state("a")) === 4L)
    // the cardinality guard: a third domain over a cap of 2 refuses,
    // and nothing is committed
    val tiny = new Monitor.Fold(Map.empty[String, graft.functions.KllState],
      step(2), _ => sinks += 1)
    intercept[IllegalArgumentException] {
      tiny(Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("src", "v"), 0L)
    }
    assert(tiny.state.isEmpty && tiny.lastApplied === -1L && sinks === 2)
  }

  test("fold (CUSUM step): a failed sink commits no bucket sums; the " +
    "retry reports the one-shot changepoint") {
    val s = spark
    import s.implicits._
    val batch = Seq((0L, 10L), (1L, 10L), (2L, 90L), (3L, 90L))
      .toDF("b", "v")
    def step(b: DataFrame, st: Eval.BucketSums) =
      Eval.cusumBatchUpdate(b, col("v"), col("b"), st)
    var got: Seq[Any] = Nil
    val f = new Monitor.Fold(Map.empty: Eval.BucketSums, step,
      failOnce(df => got = df.head().toSeq))
    intercept[RuntimeException](f(batch, 0L))
    assert(f.state.isEmpty && f.lastApplied === -1L)
    // the retry of the same id against the untouched state: counted
    // once, so the report equals the one-shot over the batch
    f(batch, 0L)
    val oneShot = Eval.cusumChangepoint(batch, col("v"), col("b")).head()
    assert(got === oneShot.toSeq :+ 0L)
    assert(f.state.values.map(_._1).sum === 4L && f.lastApplied === 0L)
  }

  test("each tags every report row with its batch_id") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = s.sqlContext
    val mem = MemoryStream[Long]
    val seen = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val q = Monitor.each(mem.toDF().toDF("v"))(_.agg(sum("v").as("t"))) {
      m => seen ++= m.collect().map(r =>
        (r.getAs[Long]("batch_id"), r.getAs[Long]("t")))
    }
    try {
      mem.addData(1L, 2L, 3L)
      q.processAllAvailable()
      mem.addData(10L, 20L)
      q.processAllAvailable()
      assert(seen.toList === List((0L, 6L), (1L, 30L)))
    } finally q.stop()
  }

  test("pipeline stream monitors hold no commit state of their own") {
    def sources(dir: String): Seq[Path] =
      Files.walk(Paths.get(dir)).iterator().asScala
        .filter(_.toString.endsWith(".scala")).toSeq
    sources("src/main/scala/graft/pipeline").foreach { f =>
      val src = Files.readString(f)
      Seq("foreachBatch", "AtomicReference", "AtomicLong").foreach { w =>
        assert(!src.contains(w), s"$f contains $w")
      }
    }
    val entry = Paths.get("src/main/scala/graft/SparkEntry.scala")
    assert(!Files.readString(entry).contains("AtomicReference"))
  }
}
