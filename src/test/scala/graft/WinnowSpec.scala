package graft

import graft.pipeline.Dedup
import org.scalatest.funsuite.AnyFunSuite

/** Winnowing fingerprints against an INDEPENDENT in-memory reference
  * (plain Scala MessageDigest md5 prefix + an explicit window scan
  * with the rightmost-minimal rule — no Spark expressions shared with
  * the implementation). */
class WinnowSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def md5Long60(t: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(t.getBytes("UTF-8"))
    java.lang.Long.parseLong(
      d.map(b => f"$b%02x").mkString.substring(0, 15), 16)
  }

  /** Reference winnowing: distinct (hash, 1-based pos) selections of
    * the rightmost-minimal hash over every FULL window of w gram
    * hashes. */
  private def refWinnow(text: String, k: Int,
                        w: Int): Set[(Long, Long)] = {
    val toks = text.split(" ", -1)
    val g = toks.length - k + 1
    if (g < w) Set.empty
    else {
      val hs = (0 until g).map(i =>
        md5Long60(toks.slice(i, i + k).mkString(" ")))
      ((w - 1) until g).map { p =>
        ((p - w + 1) to p).map(i => (hs(i), i))
          .minBy { case (h, i) => (h, -i) }
      }.toSet.map { hi: (Long, Int) => (hi._1, hi._2 + 1L) }
    }
  }

  private def docsDf(rows: Seq[(Long, String)]) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  private def decode(key: java.math.BigDecimal): (Long, Long) = {
    val m = java.math.BigInteger.valueOf(1L << 24)
    val Array(q, r) = key.toBigInteger.divideAndRemainder(m)
    (q.longValueExact(), (1L << 24) - r.longValueExact())
  }

  test("winnowKeys matches the reference on random corpora") {
    val rnd = new scala.util.Random(17)
    val vocab = (1 to 9).map(i => s"w$i")
    val rows = (1L to 25L).map { id =>
      // short vocab forces repeated grams (tie-break exercise); some
      // docs shorter than k+w-1 (below resolution -> empty)
      val len = 2 + rnd.nextInt(30)
      (id, Seq.fill(len)(vocab(rnd.nextInt(vocab.length)))
        .mkString(" "))
    }
    val k = 3; val w = 4
    val got = Dedup.winnowKeys(docsDf(rows), "doc_id", "text", k, w)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (id, rs) =>
        id -> rs.map(r => decode(r.getDecimal(1))).toSet }
    val want = rows.map { case (id, t) => id -> refWinnow(t, k, w) }
      .filter(_._2.nonEmpty).toMap
    assert(got === want)
  }

  test("rightmost tie-break: a constant doc selects every window's tail") {
    // k=2, w=2 over "a a a a a": grams all hash equal; windows end at
    // pos 2,3,4 and the RIGHTMOST minimal wins -> positions 2,3,4
    val got = Dedup.winnowKeys(docsDf(Seq((1L, "a a a a a"))),
        "doc_id", "text", k = 2, w = 2)
      .collect().map(r => decode(r.getDecimal(1))).toSet
    val h = md5Long60("a a")
    assert(got === Set((h, 2L), (h, 3L), (h, 4L)))
  }

  test("summary envelope and the local-match guarantee") {
    val rnd = new scala.util.Random(23)
    val shared = (1 to 10).map(i => s"s$i").mkString(" ") // 10 words
    def noise(n: Int) = Seq.fill(n)(s"n${rnd.nextInt(1000)}")
      .mkString(" ")
    val rows = Seq(
      (1L, noise(20) + " " + shared + " " + noise(15)),
      (2L, noise(12) + " " + shared + " " + noise(25)),
      (3L, noise(30)))
    val k = 4; val w = 5
    val sm = Dedup.winnowSummary(docsDf(rows), "doc_id", "text", k, w)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    sm.foreach { case (id, (ng, nw, nfp)) =>
      assert(nw === math.max(ng - (w - 1), 0L), s"doc $id")
      assert(nfp <= nw && nfp >= (nw + w - 1) / w,
        s"doc $id density envelope: $nfp of $nw windows")
    }
    // the winnowing guarantee: a shared 10-word run >= k+w-1 = 8
    // words must produce at least one shared fingerprint hash ->
    // docs 1 and 2 pair; doc 3 (pure noise) pairs with nobody
    val pairs = Dedup.winnowedPairs(docsDf(rows), "doc_id", "text",
        k, w, maxDf = 20, minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)), pairs.toString)
  }

  test("maxDf drops boilerplate hashes before pairing") {
    // the same 12-word span in ALL 6 docs: with maxDf=3 every shared
    // hash has df=6 > 3 and is dropped -> no pairs; with maxDf=10
    // all 15 pairs form
    val span = (1 to 12).map(i => s"b$i").mkString(" ")
    val rows = (1L to 6L).map(id => (id, s"u$id " * 5 + span))
    val none = Dedup.winnowedPairs(docsDf(rows), "doc_id", "text",
      k = 4, w = 5, maxDf = 3, minShared = 1)
    assert(none.count() === 0L)
    val all = Dedup.winnowedPairs(docsDf(rows), "doc_id", "text",
      k = 4, w = 5, maxDf = 10, minShared = 1)
    assert(all.count() === 15L)
  }
}
