package graft

import graft.pipeline.Bpe
import org.scalatest.funsuite.AnyFunSuite

/** BPE merge training against the HAND-COMPUTED textbook sequence
  * (the Sennrich et al. low/lower/newest/widest corpus) and the
  * greedy leftmost-non-overlapping merge semantics. */
class BpeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def merges(text: String, rounds: Int) = {
    val s = spark
    import s.implicits._
    Bpe.trainMerges(Seq(text).toDF("text"), "text", rounds)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
      .toSeq
  }

  test("textbook corpus: hand-computed 4-round merge sequence") {
    // low x3, lower x2, newest x5, widest x3 — worked by hand:
    // r1: (e,s)=8 ties (s,t)=8, lexicographic lhs 'e' < 's' -> es
    // r2: (es,t)=8 -> est
    // r3: count-5 tie (e,w)/(l,o)/(n,e)/(o,w)/(w,est) -> ew
    // r4: count-5 tie (ew,est)/(l,o)/(n,ew)/(o,w) -> ewest
    val corpus = (Seq.fill(3)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(5)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    assert(merges(corpus, 4) === Seq(
      (1L, "e", "s", "es", 8L),
      (2L, "es", "t", "est", 8L),
      (3L, "e", "w", "ew", 5L),
      (4L, "ew", "est", "ewest", 5L)))
  }

  test("greedy leftmost non-overlapping: aaaa merges to (aa)(aa)") {
    // 'aaaa' has 3 adjacent (a,a) pairs; the merge application must
    // produce aa|aa (two symbols), NOT aa|a|a — then round 2 finds
    // exactly one (aa,aa) pair
    assert(merges("aaaa", 2) === Seq(
      (1L, "a", "a", "aa", 3L),
      (2L, "aa", "aa", "aaaa", 1L)))
  }

  test("odd run keeps the greedy remainder: aaa -> (aa)(a)") {
    assert(merges("aaa baa", 2) === Seq(
      // (a,a): 2 in aaa + 1 in baa = 3
      (1L, "a", "a", "aa", 3L),
      // aaa -> aa|a, baa -> b|aa: (aa,a)=1, (b,aa)=1 tie -> lhs 'aa'
      (2L, "aa", "a", "aaa", 1L)))
  }

  test("early exhaustion: single-char vocabulary yields no merges") {
    assert(merges("a b a b c", 3) === Seq.empty)
  }

  test("paren-admitting alphabet is rejected up front") {
    val s = spark
    import s.implicits._
    val df = Seq("ab ab").toDF("text")
    val e = intercept[IllegalArgumentException] {
      Bpe.train(df, "text", 1, alphabet = "[a-z()]+")
    }
    assert(e.getMessage.contains("paren"), e.getMessage)
  }

  test("non-alphabet words are excluded before training") {
    // '(x)(y)' would break the paren encoding; the alphabet filter
    // must drop it, leaving only the clean word
    assert(merges("ab ab (x)(y) a_b", 1) ===
      Seq((1L, "a", "b", "ab", 2L)))
  }

  test("segmentVocab: textbook corpus segments after the 4 merges") {
    val s = spark
    import s.implicits._
    val corpus = (Seq.fill(3)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(5)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val got = Bpe.segmentVocab(Seq(corpus).toDF("text"), "text", 4)
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // merges: es, est, ew, ewest (hand-computed above)
    assert(got === Map(
      "low" -> ((3L, 3L, "l o w")),
      "lower" -> ((2L, 5L, "l o w e r")),
      "newest" -> ((5L, 2L, "n ewest")),
      "widest" -> ((3L, 4L, "w i d est"))))
  }
}
