package perfbench

import java.io.File
import java.util.concurrent.Executors

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkEntry
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Expected answer of one catalog entry, and its reference time, which
  * only orders the entries into strata. */
final case class Expected(rows: Long, checksum: Option[String], refS: Double)

/** `catalog`: `SparkEntry.queries` at sf0.01, each entry built and run
  * once with its noop-sink action after one untimed run at sf0.001.
  * Construction (driver-side fetches, pins, narrowing loops, staged
  * artifacts) and job count dominate here.
  *
  * A whole pass takes about ten minutes on four cores with its
  * warm-up, longer than a run may last, so a run measures a stratified
  * panel of N = run seconds × [[EntriesPerSecond]] entries: the entries,
  * ordered by their recorded reference time, are cut into N strata
  * holding equal shares of the summed square roots of those times (the
  * cumulative-√f rule, which makes strata of slow entries small), and
  * one entry near each stratum's middle stands for it, chosen so that
  * the panel covers every name family. The panel is the same for
  * every seed (a seeded pick from each stratum spread the entry
  * percentiles over more than their bound); the seed shuffles the
  * order in which the panel runs. Set-up runs the panel at
  * sf0.001, one per core at a time; the timed phase runs them at sf0.01,
  * one after another in seeded order. Every
  * measured entry stands for the entries of its stratum: `catalog_s` is
  * the sum of stratum size × measured time, and the entry percentiles
  * are Harrell–Davis estimates that weight each measured time by its
  * stratum size. Only the run's own
  * times enter the metrics. Staged artifacts are keyed by fixture
  * directory, so the entry of the run that builds one first is charged
  * for it. */
final class Catalog extends Workload {
  import Catalog._

  private var expected: Map[String, Expected] = Map.empty
  /** The panel in seeded order, each entry with its stratum size. */
  private var picked: Seq[(String, Int)] = Nil

  def setup(c: Ctx): Unit = {
    expected = load(new File(c.bench, ExpectedFile))
    picked = pick(c.seed, math.round(c.seconds * EntriesPerSecond).toInt)
    val warm = new File(c.bench, "data/sf0.001").getAbsolutePath
    val t0 = System.nanoTime()
    c.trace("warmup", "session") {
      // Untimed, so the entries warm up side by side, one per core. A
      // warm-up failure shows again, and is counted, in the timed run.
      val pool = Executors.newFixedThreadPool(c.cores)
      try {
        picked.map { case (n, _) =>
          pool.submit(new Runnable {
            def run(): Unit =
              try fingerprint(SparkEntry.queries(n)(c.spark, warm), s"warm_$n")
              catch { case _: Exception => }
          })
        }.foreach(_.get())
      } finally pool.shutdown()
    }
    c.layer("session.warmup_s") = (System.nanoTime() - t0) / 1e9
  }

  def timed(c: Ctx): Outcome = {
    val runs = runEntries(c, picked.map(_._1))
    val weighted = runs.zip(picked).map { case (r, (_, size)) => (r.seconds, size.toDouble) }
    val catalogS = weighted.map { case (t, w) => t * w }.sum
    families(c, runs)
    Outcome(
      Map("latency_p50_s" -> Stats.hdPct(weighted, 0.5),
        "latency_p90_s" -> Stats.hdPct(weighted, 0.9),
        "throughput_per_s" -> SparkEntry.queries.size / catalogS),
      Map("entries_run" -> runs.size, "entries" -> SparkEntry.queries.size,
        "catalog_s" -> catalogS, "entry_p50_s" -> Stats.hdPct(weighted, 0.5),
        "entry_p95_s" -> Stats.hdPct(weighted, 0.95),
        "measured_p50_s" -> Stats.pct(runs.map(_.seconds), 0.5)) ++
        c.probe.map(p => "artifact" -> artifact(p, runs)))
  }

  /** Builds and runs each entry once, timed and checked. */
  private def runEntries(c: Ctx, names: Seq[String]): Seq[EntryRun] = {
    val sf = new File(c.bench, "data/sf0.01").getAbsolutePath
    val queries = SparkEntry.queries
    names.map { name =>
      c.spark.catalog.clearCache()
      c.trace(name, "bench") {
        val t0 = System.nanoTime()
        val outcome =
          try {
            val built = c.call(s"timed/$name/construct", "construct", "SparkEntry") {
              queries(name)(c.spark, sf)
            }
            val t1 = System.nanoTime()
            val (rows, sum) = c.call(s"timed/$name/action", "action", "exec") {
              fingerprint(built, s"entry_$name")
            }
            Right(((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9, rows, sum))
          } catch {
            case e: Throwable => Left(Option(e.getMessage).getOrElse(e.toString).take(200))
          }
        c.attempted += 1
        val ok = outcome match {
          case Left(msg) => c.fail(name, msg); false
          case Right((_, _, rows, sum)) => expected.get(name) match {
            case None => c.fail(name, "no expected answer"); false
            case Some(e) if e.rows != rows => c.fail(name, s"rows=$rows want ${e.rows}"); false
            case Some(e) if e.checksum.exists(_ != sum) =>
              c.fail(name, s"checksum $sum want ${e.checksum.get}"); false
            case _ => true
          }
        }
        val (cs, as) = outcome.map { case (a, b, _, _) => (a, b) }
          .getOrElse(((System.nanoTime() - t0) / 1e9, 0.0))
        EntryRun(name, cs, as, ok)
      }
    }
  }

  /** `n` strata over the entries ordered by reference time, holding
    * equal shares of the summed √ref_s, and one entry of each, in seeded
    * order, with its stratum's size. Strata choose smallest first: each
    * takes the entry of the family least chosen so far, nearest to its
    * middle. An entry without a recorded time sorts first. */
  private def pick(seed: Long, n: Int): Seq[(String, Int)] = {
    val rnd = new scala.util.Random(seed)
    val ranked = SparkEntry.queries.keys.toSeq
      .map(nm => (nm, expected.get(nm).map(_.refS).getOrElse(0.0)))
      .sortBy { case (nm, t) => (t, nm) }
    val k = math.max(1, math.min(n, ranked.size))
    val cum = ranked.scanLeft(0.0) { case (acc, (_, t)) => acc + math.sqrt(t) }.tail
    val cuts = (1 until k).map(j => cum.indexWhere(_ >= cum.last * j / k) + 1)
    val bounds = (0 +: cuts :+ ranked.size).distinct
    val strata = bounds.zip(bounds.tail).map { case (a, b) => ranked.slice(a, b).map(_._1) }
    val chosen = mutable.Map[String, Int]().withDefaultValue(0)
    val panel = strata.sortBy(_.size).map { st =>
      val n = st.indices.minBy(i => (chosen(family(st(i))), math.abs(i - st.size / 2)))
      chosen(family(st(n))) += 1
      (st(n), st.size)
    }
    rnd.shuffle(panel)
  }

  /** Per-entry layer totals and the 13 family subtotals. */
  private def families(c: Ctx, runs: Seq[EntryRun]): Unit = {
    c.probe.foreach(_.drain())
    def jobs(name: String, phase: String) =
      c.probe.flatMap(_.byKey.get(s"timed/$name/$phase")).map(_("exec.jobs")).getOrElse(0.0)
    c.layer("entry.construct_s") = runs.map(_.constructS).sum
    c.layer("entry.action_s") = runs.map(_.actionS).sum
    c.layer("entry.construct_jobs") = runs.map(r => jobs(r.name, "construct")).sum
    c.layer("entry.action_jobs") = runs.map(r => jobs(r.name, "action")).sum
    Families.foreach { f =>
      val fr = runs.filter(r => family(r.name) == f)
      c.layer(s"entry.$f.construct_s") = fr.map(_.constructS).sum
      c.layer(s"entry.$f.action_s") = fr.map(_.actionS).sum
    }
  }

  /** Per entry: times, job counts and the plan-shape fingerprint of each
    * phase; plus per-family count subtotals. */
  private def artifact(p: Probe, runs: Seq[EntryRun]): Map[String, Any] = {
    val countKeys = Seq("exec.jobs", "exec.stages", "exec.tasks") ++ Probe.PlanKeys
    def counts(name: String) = Seq("construct", "action").map { ph =>
      val k = p.byKey.getOrElse(s"timed/$name/$ph", new Counts)
      ph -> countKeys.map(m => m -> k(m)).toMap
    }.toMap
    val entries = runs.map { r =>
      r.name -> Map("family" -> family(r.name), "ok" -> r.ok, "construct_s" -> r.constructS,
        "action_s" -> r.actionS, "counts" -> counts(r.name))
    }.toMap
    val byFamily = runs.groupBy(r => family(r.name)).map { case (f, rs) =>
      f -> countKeys.map(m => m -> rs.map { r =>
        Seq("construct", "action").map(ph =>
          p.byKey.get(s"timed/${r.name}/$ph").map(_(m)).getOrElse(0.0)).sum
      }.sum).toMap
    }
    Map("entries" -> entries, "families" -> byFamily)
  }
}

final case class EntryRun(name: String, constructS: Double, actionS: Double, ok: Boolean) {
  def seconds: Double = constructS + actionS
}

object Catalog {
  val ExpectedFile = "catalog_expected.json"
  /** Entries a run measures per run second (16 at 12 s; about 20 s of
    * entry time on four cores). */
  val EntriesPerSecond: Double = 4.0 / 3
  val Families: Seq[String] = Seq("a", "d", "e", "g", "k", "llm", "m", "o", "p", "q", "r", "s", "t")

  def family(name: String): String = name.takeWhile(_.isLetter)

  /** Order-insensitive answer fingerprint: row count, xor and low-bit sum
    * of a per-row hash. Floating-point values are hashed at float
    * precision, so summation order cannot change the fingerprint. */
  def checksumCols(df: DataFrame): Seq[Column] = {
    val cols = df.schema.fields.map(f =>
      canon(df.col("`" + f.name.replace("`", "``") + "`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toIndexedSeq: _*)
    Seq(count(lit(1)).as("rows"), bit_xor(h).as("x"), sum(h.bitwiseAND(lit(0xFFFFL))).as("s"))
  }

  private def canon(c: Column, dt: DataType): Column = dt match {
    case FloatType | DoubleType => c.cast(FloatType)
    case ArrayType(et, _) => transform(c, x => canon(x, et))
    case StructType(fs) if fs.nonEmpty =>
      struct(fs.toIndexedSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e => struct(canon(e.getField("key"), kt).as("k"),
        canon(e.getField("value"), vt).as("v"))))
    case _ => c
  }

  def load(f: File): Map[String, Expected] = {
    val root = new ObjectMapper().readTree(f)
    root.get("entries").fields().asScala.map { e =>
      val v = e.getValue
      e.getKey -> Expected(v.get("rows").asLong(),
        Option(v.get("checksum")).filterNot(_.isNull).map(_.asText()), v.get("ref_s").asDouble())
    }.toMap
  }

  /** Runs the noop-sink action under a top-level observation, so the
    * checked plan is the timed plan: (rows, checksum). */
  def fingerprint(df: DataFrame, tag: String): (Long, String) = {
    val obs = Observation(tag)
    df.observe(obs, checksumCols(df).head, checksumCols(df).tail: _*)
      .write.mode("overwrite").format("noop").save()
    val got = obs.get
    (got("rows").asInstanceOf[Long], s"${got("x")}:${got("s")}")
  }
}
