package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed as-of join: for every left row, attach the latest right
  * row with `right.ts <= left.ts` (strictly earlier when `strict`),
  * per join key.
  *
  * Implementation is the scale-correct union-window form — NOT a range
  * join: tag both sides, union, ONE shuffle on the key, sort each
  * partition by (ts, side), and carry the last-seen right values
  * forward with `last(_, ignoreNulls = true)` over an unbounded
  * preceding frame. Cost is a single exchange + sort regardless of
  * right-side density; no per-row probing, no broadcast of a whole
  * table, no O(n·m) range explosion.
  */
object AsOfJoin {

  /** `rightCols` are carried onto left rows as `asof_<name>`.
    * Within equal timestamps the right row sorts first (non-strict
    * semantics: a right row AT the left row's ts is visible); ties
    * among right rows resolve by `tieBreak` ascending, latest wins.
    *
    * Null-timestamp contract: right rows with a null `tsCol` are
    * dropped (a row with no timestamp can never be an as-of match);
    * left rows with a null `tsCol` are kept and get null `asof_*`
    * (under ASC nulls-first they sort before every right row, so the
    * carry-forward window sees nothing). */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               tsCol: String, rightCols: Seq[String],
               tieBreak: Option[String] = None,
               strict: Boolean = false): DataFrame = {
    val sideOrder = if (strict) lit(1) else lit(-1) // right before/after left at equal ts
    val l = left.withColumn("_side", lit(0))
      .withColumn("_tb", lit(null).cast("long"))
    val lAligned = rightCols.foldLeft(l)((df, c) =>
      if (df.columns.contains(c)) df else df.withColumn(c, lit(null)))
    val r = right.filter(col(tsCol).isNotNull)
      .withColumn("_side", sideOrder)
      .withColumn("_tb",
        tieBreak.map(col(_).cast("long")).getOrElse(lit(0L)))
    val rAligned = lAligned.columns.foldLeft(r)((df, c) =>
      if (df.columns.contains(c)) df else df.withColumn(c, lit(null)))
      .select(lAligned.columns.toSeq.map(col): _*)
    val unioned = lAligned.unionByName(rAligned)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol).asc, col("_side").asc, col("_tb").asc)
      .rowsBetween(Window.unboundedPreceding,
        if (strict) -1 else Window.currentRow)
    // carry the WHOLE latest right row as ONE struct: independent
    // per-column last(...) carries would mix values from different
    // right rows whenever the latest row holds a null in one carried
    // column (a torn row that never existed)
    val packed = last(
      when(col("_side") =!= 0, struct(rightCols.map(col): _*)),
      ignoreNulls = true).over(w)
    val withMatch = unioned.withColumn("_m", packed)
    val annotated = rightCols.foldLeft(withMatch) { (df, c) =>
      df.withColumn(s"asof_$c", col("_m").getField(c))
    }
    annotated.filter(col("_side") === 0)
      .drop("_side", "_tb", "_m")
      .drop(rightCols.filterNot(left.columns.contains): _*)
  }

  /** As-of join against a STATIC, dimension-sized right side — the
    * form a stream needs: the right table is collapsed to one sorted
    * (ts, tieBreak, values) history array per key and broadcast; each
    * left row then picks the last history entry at-or-before its
    * timestamp with a per-row array probe. Completely stateless on
    * the left side — no state store, no watermark — so the SAME code
    * runs over a batch DataFrame or a streaming one in append mode
    * (proved in StreamingSpec). Right side must be bounded per key
    * (it lives in a broadcast row); use [[asofJoin]] or the native
    * operator for corpus-sized right sides.
    *
    * Same contract as [[asofJoin]]: carried columns arrive as
    * `asof_<name>`, null-ts right rows never match, null-ts left rows
    * get null matches, ties on ts resolve by tieBreak, latest wins. */
  def asofStaticRight(left: DataFrame, right: DataFrame, keys: Seq[String],
                      tsCol: String, rightCols: Seq[String],
                      tieBreak: Option[String] = None,
                      strict: Boolean = false): DataFrame = {
    val tb = tieBreak.map(col(_).cast("long")).getOrElse(lit(0L))
    val hist = right.filter(col(tsCol).isNotNull)
      .groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(struct(
        col(tsCol).as("_ts"), tb.as("_tb"),
        struct(rightCols.map(col): _*).as("_v")))).as("_hist"))
    // null-SAFE key equality: the union-window form partitions by key,
    // which groups null keys together — a plain equi-join would
    // silently diverge on them
    val histR = keys.foldLeft(hist)((df, k) =>
      df.withColumnRenamed(k, s"_rk_$k"))
    val joined = left.join(broadcast(histR),
        keys.map(k => col(k) <=> col(s"_rk_$k")).reduce(_ && _), "left")
      .drop(keys.map(k => s"_rk_$k"): _*)
    // try_element_at: an empty qualifying set is a legitimate no-match
    // (ANSI element_at throws on the empty array)
    val lastMatch = try_element_at(
      filter(col("_hist"), h =>
        if (strict) h("_ts") < col(tsCol) else h("_ts") <= col(tsCol)),
      lit(-1))
    val annotated = graft.pipeline.ExprUtils.let(lastMatch) { m =>
      struct(rightCols.map(c => m("_v")(c).as(s"asof_$c")): _*)
    }
    joined.withColumn("_m", annotated)
      .select(left.columns.toSeq.map(col) ++
        rightCols.map(c => col(s"_m.asof_$c")): _*)
  }
}
