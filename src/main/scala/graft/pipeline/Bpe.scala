package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** BPE (byte-pair-encoding) MERGE TRAINING — the subword-tokenizer
  * trainer the LLM-pipeline family was missing: d31 tokenizes against
  * a GIVEN vocabulary; this learns the merge table itself
  * (Sennrich et al. 2016's iterative top-1 pair merge).
  *
  * Algorithm, exactly the textbook loop: collapse the corpus to a
  * word-frequency vocabulary, split each word into character symbols,
  * then `rounds` times (1) count adjacent symbol pairs weighted by
  * word frequency, (2) take the most frequent pair (deterministic
  * tie-break: count desc, then lexicographic), (3) merge every
  * non-overlapping leftmost occurrence of that pair in every word.
  *
  * Cross-engine-exact representation: each word is one STRING with
  * every symbol wrapped in parens — "low" → "(l)(o)(w)" — so step (3)
  * is a plain (non-regex) `replace(enc, "(a)(b)", "(ab)")`. Both
  * Spark's `replace` and an ANSI engine's scan LEFTMOST
  * NON-OVERLAPPING, which IS the BPE greedy merge: "(l)(l)(l)(l)"
  * under merge (l,l) becomes "(ll)(ll)", and "(l)(l)(l)" becomes
  * "(ll)(l)". The wrapping makes a symbol boundary unambiguous — a
  * pattern can never match across symbols — PROVIDED symbols never
  * contain parens, which the `alphabet` filter guarantees (words are
  * pre-filtered to it; the standard practice of training BPE on a
  * cleaned token stream).
  *
  * Shape at scale: everything after the first groupBy is
  * VOCABULARY-sized, never corpus-sized — the corpus collapses to
  * (word, n) with map-side combine, exactly how reference BPE
  * trainers operate on word-count tables. Each round is one
  * vocab-sized scan (pair explode + sum shuffle on pair keys) plus a
  * 1-row bounded argmax fetch (TakeOrdered, not a global sort), and
  * the merge itself is a map-only column rewrite. The vocab frame is
  * localCheckpointed per round so k rounds do not stack k lineages
  * (the d44 chained-replay discipline). A heavy-hitter sketch
  * (MisraGries) could replace the exact pair count at extreme vocab
  * sizes; at any realistic vocabulary (millions of words) the exact
  * aggregate is already tiny next to the corpus scan that built it.
  */
object Bpe {

  /** Symbol array of an encoded "(a)(b)" word. */
  private def symbolsOf(enc: Column): Column =
    split(regexp_replace(enc, "^\\(|\\)$", ""), "\\)\\(")

  /** Train `rounds` BPE merges over the words of `textCol`. Returns
    * (merge table, final encoded vocabulary): one merge row per
    * executed round (round, lhs, rhs, merged, pair_count) — training
    * stops early if no adjacent pair remains — and the vocabulary
    * (w, n, enc) AFTER all merges, i.e. the trained segmentation
    * state that [[segmentVocab]] reads subword tokens from. */
  def train(docs: DataFrame, textCol: String, rounds: Int,
            alphabet: String = "[a-z0-9]+"): (DataFrame, DataFrame) = {
    require(rounds >= 1 && rounds <= 64,
      "rounds in [1, 64] (each round is a vocab pass)")
    // The paren-encoding ("(a)(b)") is only injective when no symbol
    // can contain a paren — enforce the contract instead of assuming
    // it: an alphabet admitting '(' or ')' would silently corrupt
    // merge boundaries (round-10 advice). The check is BEHAVIORAL —
    // probe the regex with the paren characters themselves — because
    // a literal-character scan misses escape forms (\x28, () and
    // ranges ('!'..'+' contains '(') while falsely rejecting grouped
    // regexes whose parens are syntax, not admitted characters
    // (round-11 review). An invalid regex fails here, loudly, before
    // any data moves.
    require(!"(".matches("^" + alphabet + "$") &&
        !")".matches("^" + alphabet + "$"),
      s"alphabet '$alphabet' must not admit '(' or ')': the " +
        "paren-encoded merge relies on parens never appearing in symbols")
    val spark = docs.sparkSession
    // spread BEFORE the word explode (r14, guide §2.5): the trainer's
    // corpus pass is map-heavy and its input is often a 1-partition
    // checkpointed frame
    val words = ExprUtils.spread(docs)
      .select(explode(split(col(textCol), " ")).as("w"))
      .filter(col("w").rlike("^" + alphabet + "$"))
      .groupBy("w").agg(count(lit(1)).as("n"))
    var vocab = words.select(col("w"), col("n"),
        concat_ws("", transform(split(col("w"), ""),
          c => concat(lit("("), c, lit(")")))).as("enc"))
      .localCheckpoint()
    val merges = scala.collection.mutable.Buffer[
      (Long, String, String, String, Long)]()
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val pairCounts = vocab.select(col("n"), explode(
          ExprUtils.let(symbolsOf(col("enc"))) { s =>
            zip_with(slice(s, lit(1), size(s) - 1),
              slice(s, lit(2), size(s) - 1),
              (a, b) => struct(a.as("l"), b.as("r")))
          }).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("n")).as("c"))
      // bounded 1-row argmax fetch (TakeOrdered); ties break
      // lexicographically so the merge sequence is deterministic
      val top: Array[Row] = pairCounts
        .orderBy(col("c").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, rr, c) =
          (top.head.getString(0), top.head.getString(1),
            top.head.getLong(2))
        merges += ((r.toLong, l, rr, l + rr, c))
        vocab = vocab.select(col("w"), col("n"),
            replace(col("enc"), lit(s"($l)($rr)"),
              lit(s"(${l + rr})")).as("enc"))
          // lazy (r14, the d44 trick): the next round's argmax job —
          // or the final count/segmentation — materializes it, so a
          // round costs ONE job instead of checkpoint-job + agg-job
          .localCheckpoint(false)
        r += 1
      }
    }
    import spark.implicits._
    // driver-loop counter (the d54/CC convention): executed rounds ×
    // vocabulary size IS this trainer's cost model
    graft.ops.Counters.note("bpe_train", "loop", Map(
      "rounds" -> merges.size.toLong, "vocab" -> vocab.count()))
    (merges.toSeq.toDF("round", "lhs", "rhs", "merged", "pair_count"),
      vocab)
  }

  /** The merge table alone (d55's shape). */
  def trainMerges(docs: DataFrame, textCol: String, rounds: Int,
                  alphabet: String = "[a-z0-9]+"): DataFrame =
    train(docs, textCol, rounds, alphabet)._1

  /** Train `rounds` merges and SEGMENT the vocabulary with them — the
    * apply side of BPE: each word reports its subword tokens after
    * the trained merge sequence (w, n, n_subwords, segmentation with
    * subwords space-joined). New text segments by the same merge
    * table via one vocabulary join (subword segmentation is a
    * per-WORD function, the standard BPE cache trick — corpus rows
    * never re-run the merge chain). */
  def segmentVocab(docs: DataFrame, textCol: String, rounds: Int,
                   alphabet: String = "[a-z0-9]+"): DataFrame = {
    val (_, vocab) = train(docs, textCol, rounds, alphabet)
    vocab.select(col("w"), col("n"),
      ExprUtils.let(symbolsOf(col("enc"))) { s =>
        size(s).cast("long")
      }.as("n_subwords"),
      concat_ws(" ", symbolsOf(col("enc"))).as("segmentation"))
  }

}
