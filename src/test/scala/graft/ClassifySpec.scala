package graft

import graft.pipeline.Classify
import org.scalatest.funsuite.AnyFunSuite

/** Naive Bayes train→score→confusion against an INDEPENDENT
  * in-memory reference (plain Scala maps + Math.log, same micro
  * rounding discipline). */
class ClassifySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** Reference NB: multinomial, Laplace-smoothed, per-term micro
    * rounding, min(-score, label) tie-break. */
  private def refConfusion(docs: Seq[(Long, String, String)])
      : Map[(String, String), Long] = {
    def roundMicro(x: Double): Long =
      BigDecimal(x * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val toks = docs.flatMap { case (id, text, lab) =>
      text.split(" ", -1).map(t => (id, lab, t)) }
    val classTok = toks.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val docCnt = docs.groupBy(_._3).view.mapValues(_.size.toLong).toMap
    val vocab = toks.map(_._3).distinct.size.toLong
    val counts = toks.groupBy(t => (t._2, t._3)).view
      .mapValues(_.size.toLong).toMap
    val labels = classTok.keys.toSeq.sorted
    val preds = docs.map { case (_, text, lab) =>
      val best = labels.map { l =>
        val prior = roundMicro(math.log(
          docCnt(l).toDouble / docs.size))
        val terms = text.split(" ", -1).map { t =>
          roundMicro(math.log(
            (counts.getOrElse((l, t), 0L) + 1).toDouble /
              (classTok(l) + vocab).toDouble))
        }.sum
        (-(prior + terms), l)
      }.min
      (lab, best._2)
    }
    preds.groupBy(identity).view.mapValues(_.size.toLong).toMap
  }

  test("nbSelfConfusion matches the independent reference") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "der hund und die katze", "de"),
      (2L, "die katze und der vogel", "de"),
      (3L, "der vogel singt und singt", "de"),
      (4L, "the cat and the dog", "en"),
      (5L, "the bird sings and sings", "en"),
      (6L, "the dog and the bird", "en"),
      (7L, "le chat et le chien", "fr"),
      (8L, "le chien et le oiseau", "fr"),
      // deliberately ambiguous: shared-vocab word soup
      (9L, "und the et", "en"))
    val got = Classify.nbSelfConfusion(
        docs.toDF("doc_id", "text", "lang"),
        "doc_id", "text", "lang")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(got === refConfusion(docs))
    // the clean docs classify to their own language
    assert(got.getOrElse(("de", "de"), 0L) === 3L)
    assert(got.getOrElse(("fr", "fr"), 0L) === 2L)
  }

  test("nbConfusion holdout: model stats come from train only; " +
    "unseen tokens get the smoothed floor") {
    val s = spark
    import s.implicits._
    val train = Seq(
      (1L, "aa aa bb", "x"),
      (2L, "aa bb bb", "x"),
      (3L, "cc cc dd", "y"),
      (4L, "cc dd dd", "y"))
    val test = Seq(
      (10L, "aa bb", "x"),       // clean x vocabulary
      (11L, "cc dd", "y"),       // clean y vocabulary
      (12L, "zz zz", "y"))       // entirely UNSEEN tokens
    val got = Classify.nbConfusion(
        train.toDF("doc_id", "text", "lang"),
        test.toDF("doc_id", "text", "lang"),
        "doc_id", "text", "lang")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(got(("x", "x")) === 1L)
    // doc 12: every token floors identically for both classes, both
    // priors are equal (2 docs each) -> exact tie -> smallest label
    assert(got(("y", "y")) === 1L && got(("y", "x")) === 1L)
    assert(got.values.sum === 3L)
  }

  test("class-count bounds are enforced") {
    val s = spark
    import s.implicits._
    val one = Seq((1L, "a b", "x")).toDF("doc_id", "text", "lang")
    assertThrows[IllegalArgumentException] {
      Classify.nbSelfConfusion(one, "doc_id", "text", "lang")
    }
  }

  test("nbModelReport: separable holdout scores AUC 1, counts add up") {
    val s = spark
    import s.implicits._
    // disjoint vocabularies: every 'en' holdout doc outranks every
    // 'fr' one on the en-margin, so the tie-aware AUC must be exactly
    // 1.0; softmax p sits near 1 for en and near 0 for fr
    val train = Seq(
      (1L, "aa bb", "en"), (2L, "aa cc", "en"), (3L, "bb cc", "en"),
      (4L, "dd ee", "fr"), (5L, "dd ff", "fr"), (6L, "ee ff", "fr"))
      .toDF("doc_id", "text", "lang")
    val holdout = Seq(
      (11L, "aa bb cc", "en"), (12L, "aa aa", "en"),
      (13L, "dd ee ff", "fr"))
      .toDF("doc_id", "text", "lang")
    val r = Classify.nbModelReport(train, holdout, "doc_id", "text",
      "lang", posLabel = "en").head()
    assert(r.getDouble(0) === 1.0, s"auc: $r")
    assert(r.getLong(1) === 2L && r.getLong(2) === 1L, s"pos/neg: $r")
    // the equi-key the two audits join on: both counted the holdout
    assert(r.getLong(4) === 3L, s"n: $r")
    val ece = r.getLong(3)
    assert(ece >= 0L && ece <= 1000000L, s"ece: $r")
    assert(r.getLong(5) >= 1L && r.getLong(5) <= 10L, s"bins: $r")
  }
}
