package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, its scratch directory, the
  * vendored fixtures, the seed and run length, and the tracing hooks. */
final class Ctx(val spark: SparkSession, val work: File, val bench: File,
                val seed: Long, val seconds: Int, val cores: Int,
                val trace: Trace, val probe: Option[Probe]) {
  /** Per-layer values a workload adds (traced runs read them). */
  val layer: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
  /** Operations that failed, with the reason; a wrong answer is one. */
  val errors: mutable.ArrayBuffer[String] = mutable.ArrayBuffer()
  var attempted = 0L
  var failed = 0L

  def fail(op: String, why: String): Unit = {
    failed += 1
    if (errors.size < 20) errors += s"$op: $why"
  }

  /** Runs `body` as one layer call, charged to `key` in a traced run. */
  def call[T](key: String, name: String, layer: String)(body: => T): T =
    trace(name, layer) {
      probe.foreach(_.charge(key))
      body
    }

  def dir(name: String): File = {
    val d = new File(work, name)
    Main.deleteTree(d)
    d.mkdirs()
    d
  }
}

/** What a workload reports: end-to-end values, named details (the
  * workload's own metric names) and artifact extras. */
final case class Outcome(e2e: Map[String, Double], detail: Map[String, Any])

trait Workload {
  /** Inputs and warm-up; counted in `setup_s`. */
  def setup(c: Ctx): Unit
  /** The timed operations. */
  def timed(c: Ctx): Outcome
}

/** `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *  --bench <perfbench dir> --work <scratch dir> --out <result json>` */
object Main {
  val Workloads: Map[String, () => Workload] = Map(
    "log_cli" -> (() => new LogCli), "catalog" -> (() => new Catalog),
    "log_tail" -> (() => new LogTail))

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val o = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val traced = o("trace") == "1"
    val work = new File(o("work"))
    work.mkdirs()
    val cores = Runtime.getRuntime.availableProcessors()
    val trace = new Trace(traced)
    val workload = Workloads(o("workload"))()
    var ctx: Ctx = null
    var setupS = 0.0
    var outcome: Outcome = null
    trace("run", "bench") {
      trace("setup", "bench") {
        val t0 = System.nanoTime()
        val spark = trace("session.build", "session")(session(work, cores))
        val buildS = (System.nanoTime() - t0) / 1e9
        ctx = new Ctx(spark, work, new File(o("bench")), o("seed").toLong, o("seconds").toInt,
          cores, trace, if (traced) Some(new Probe(spark, trace)) else None)
        ctx.layer("session.build_s") = buildS
        workload.setup(ctx)
      }
      setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
      ctx.probe.foreach(_.charge("timed"))
      val fromMs = System.currentTimeMillis()
      outcome = trace("timed", "bench")(workload.timed(ctx))
      val toMs = System.currentTimeMillis()
      ctx.probe.foreach { p =>
        p.charge("done")
        val t = p.total("timed")
        ExecKeys.foreach(k => ctx.layer(k) = t(k))
        val busy = p.taskIntervals.map { case (a, b) =>
          math.max(0L, math.min(b, toMs) - math.max(a, fromMs)) }.sum / 1e3
        ctx.layer("exec.busy_frac") = busy / ((toMs - fromMs) / 1e3 * cores)
        ctx.layer("exec.no_task_s") = p.noTaskSeconds(fromMs, toMs)
        Seq("catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
          "catalyst.queries").foreach(k => ctx.layer(k) = t(k))
        Probe.PlanKeys.foreach(k => ctx.layer(k) = t(k))
      }
    }
    val e2e = outcome.e2e + ("setup_s" -> setupS)
    if (traced) {
      trace.selfSeconds.foreach { case (l, s) => ctx.layer(s"self.${l}_s") = s }
      val tracePath = new File(work, s"trace-${o("workload")}-seed${o("seed")}.json")
      val extras = outcome.detail.get("artifact").map(a => s""","artifact":${Json.value(a)}""")
        .getOrElse("")
      Files.write(tracePath.toPath,
        (s"""{"workload":${Json.str(o("workload"))},"seed":${o("seed")},"seconds":${o("seconds")},""" +
          s""""e2e_traced":${Json.value(e2e)},"layer":${Json.value(ctx.layer)},""" +
          s""""spans":${trace.toJson}$extras}""").getBytes(UTF_8))
      System.err.println(s"[perfbench] trace written to $tracePath")
    }
    val detail = outcome.detail - "artifact"
    val result =
      s"""{"correct":${ctx.failed == 0},"attempted":${ctx.attempted},"failed":${ctx.failed},""" +
        s""""e2e":${Json.value(e2e)},"layer":${Json.value(ctx.layer)},""" +
        s""""detail":${Json.value(detail)},"errors":${Json.value(ctx.errors)}}"""
    Files.write(new File(o("out")).toPath, result.getBytes(UTF_8))
    ctx.spark.stop()
  }

  val ExecKeys: Seq[String] = Seq("exec.jobs", "exec.stages", "exec.tasks",
    "exec.single_task_jobs", "exec.task_run_s", "exec.task_cpu_s", "exec.gc_s",
    "exec.input_bytes", "exec.input_records", "exec.shuffle_read_bytes",
    "exec.shuffle_write_bytes", "exec.spill_bytes", "exec.output_bytes", "exec.failed_tasks")

  /** The engine's session as its own entry points build it, on every
    * core, with the program's SQL extensions. */
  def session(work: File, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
