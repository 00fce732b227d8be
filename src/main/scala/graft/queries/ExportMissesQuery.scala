package graft.queries

import graft.ops.EventOps
import graft.ops.EventOps._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The `export-misses` query (`cli.py:317-359`,
  * `analyzer.go:181-264`): mispredictions (rank > 0), projected and
  * renamed to the Chinese report headers, annotated with the per-text
  * miss frequency, sorted (frequency desc, input asc). [[run]] reads
  * the log once per request, however many actions the caller runs.
  */
object ExportMissesQuery {

  val ColInput = "用户输入"       // source_input_buffer  (cli.py:336)
  val ColActual = "实际选择"      // committed_text
  val ColPredicted = "程序预测"   // source_first_candidate
  val ColRank = "选择排名"        // selected_candidate_rank
  val ColFreq = "错误频率"        // per-text miss count  (cli.py:347)

  /** Filter + projection + rename (`cli.py:327`, `:334-342`;
    * `analyzer.go:220-229`). `extraCols` lets callers keep a unique key
    * (e.g. an event id) for deterministic verification ordering. */
  def misses(commits: DataFrame, extraCols: Seq[String] = Nil): DataFrame =
    commits.filter(isMiss).select(
      (extraCols.map(col) ++ Seq(
        col("source_input_buffer").as(ColInput),
        col("committed_text").as(ColActual),
        col("source_first_candidate").as(ColPredicted),
        EventOps.rank.as(ColRank))): _*)

  /** Miss-frequency annotation, two strategies:
    *
    *   - `window = true`: `count(*) over (partition by 实际选择)` — the
    *     literal pandas `transform('count')` shape (`cli.py:347`). Fine
    *     at moderate scale, but the partition key (committed text) is
    *     Zipf-skewed at 100 TB: a hyper-frequent word funnels into one
    *     window partition.
    *   - `window = false` (default, scale-safe): `groupBy(实际选择).count()`
    *     + broadcast join back. Partial (map-side) aggregation shrinks
    *     the shuffle to one row per distinct text per partition, the
    *     distinct-text table is small, and the join back is broadcast —
    *     no skewed exchange of the full miss set. This is also exactly
    *     Go's two-pass map-build/annotate (`analyzer.go:230-237`).
    */
  def withFrequency(missRows: DataFrame, window: Boolean = false): DataFrame =
    if (window)
      missRows.withColumn(ColFreq,
        count(lit(1)).over(Window.partitionBy(col(ColActual))))
    else {
      val freqs = missRows.groupBy(col(ColActual))
        .agg(count(lit(1)).as(ColFreq))
      missRows.join(broadcast(freqs), Seq(ColActual))
    }

  /** Deterministic report sort: (frequency desc, input asc) per
    * `cli.py:348` / `analyzer.go:239-248`, plus explicit tie-break keys —
    * Go's bubble sort is stable, pandas quicksort and Spark orderBy are
    * not (SURVEY §2.4), so golden comparability requires a total order. */
  def sorted(annotated: DataFrame, tieBreak: Seq[String] = Nil): DataFrame =
    annotated.orderBy(
      (Seq(col(ColFreq).desc, col(ColInput).asc) ++
        Seq(col(ColActual).asc, col(ColRank).asc) ++
        tieBreak.map(col(_).asc)): _*)

  /** Full pipeline on a commit-filtered DataFrame. Output columns in the
    * canonical report order (`analyzer.go:202` + pandas' appended
    * frequency column) regardless of join strategy.
    *
    * The projected miss rows are pinned with a lazy
    * `localCheckpoint(false)`: `run` starts no job, and the first job
    * of the first action parses the log once and stores the rows. The
    * frequency build, the join's probe side and the sort of every
    * action (`count()`, then the CSV write) read the pinned blocks:
    * one scan per request, like Go's single read
    * (`analyzer.go:230-237`). Not `cache()`: the cache manager matches
    * plans by file path and would serve the next request over a grown
    * log stale rows. The context cleaner unpersists the pin once the
    * returned frame is garbage-collected. */
  def run(commits: DataFrame, window: Boolean = false,
          extraCols: Seq[String] = Nil): DataFrame =
    sorted(withFrequency(misses(commits, extraCols).localCheckpoint(false),
      window), tieBreak = extraCols)
      .select((extraCols ++
        Seq(ColInput, ColActual, ColPredicted, ColRank, ColFreq)).map(col): _*)
}
