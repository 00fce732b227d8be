package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.StreamingQuery

/** The one `foreachBatch` shape behind every stream monitor of the
  * pipeline (the drift, sketch and gate operators of `Eval`, `Dedup`
  * and `Curation`): each micro-batch becomes one report, tagged with
  * its `batch_id`, handed to the caller's sink.
  *
  * A stateful monitor is a PURE step `(batch, state) => (report,
  * state')`, and one commit rule holds for all of them:
  *   - a batch id at or below the last applied one is skipped. Spark
  *     redelivers a failed micro-batch under the SAME id, so a merge
  *     that is not idempotent (KLL conserves weight) is applied at
  *     most once per id, and an idempotent one (KMV union, Bloom OR)
  *     does not re-emit;
  *   - the new state and the last-applied id are committed only after
  *     `sink` returns. A failed sink leaves both untouched, so the
  *     retry re-applies the batch against the pre-batch state instead
  *     of losing it.
  *
  * SINK CONTRACT: the guarantee holds only if `sink` MATERIALIZES the
  * report before it returns (collect, write, count). A sink that only
  * registers the plan or defers the action lets the commit land
  * before delivery. Every sink in this repo materializes.
  *
  * State lives in the driver, inside the query's closure: a restarted
  * query starts from `zero`. Stateless monitors ([[each]]) re-evaluate
  * a redelivered batch identically and need neither rule. */
object Monitor {

  /** A stateless monitor: `sink(body(batch) + batch_id)` per batch. */
  def each(docs: DataFrame)(body: DataFrame => DataFrame)
          (sink: DataFrame => Unit): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        sink(body(batch).withColumn("batch_id", lit(batchId)))
      }
      .start()

  /** A stateful monitor over the pure `step`, under the commit rule. */
  def fold[S](docs: DataFrame, zero: S)
             (step: (DataFrame, S) => (DataFrame, S))
             (sink: DataFrame => Unit): StreamingQuery = {
    val f = new Fold(zero, step, sink)
    docs.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        f(batch, batchId)
      }
      .start()
  }

  /** `step` over fixed batches in order, from `zero`: each batch's
    * report. The batch replay of a [[fold]] monitor runs the same
    * step, so replay and stream cannot drift. */
  def replay[S](batches: Seq[DataFrame], zero: S)
               (step: (DataFrame, S) => (DataFrame, S)): Seq[DataFrame] =
    batches.foldLeft((Vector.empty[DataFrame], zero)) {
      case ((reports, state), batch) =>
        val (report, next) = step(batch, state)
        (reports :+ report, next)
    }._1

  /** The foreachBatch body of [[fold]]. Package-private so a spec can
    * stage a redelivery, which MemoryStream cannot. A query runs its
    * batches one at a time; the fields are volatile so a reader on
    * another thread sees the last commit. */
  private[graft] final class Fold[S](zero: S,
      step: (DataFrame, S) => (DataFrame, S), sink: DataFrame => Unit) {
    @volatile private var current = zero
    @volatile private var applied = -1L

    def state: S = current
    def lastApplied: Long = applied

    def apply(batch: DataFrame, batchId: Long): Unit =
      if (batchId > applied) {
        val (report, next) = step(batch, current)
        sink(report.withColumn("batch_id", lit(batchId)))
        current = next // commit point: delivery succeeded
        applied = batchId
      }
  }
}
