package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Typed aggregate: union of MinHash signatures (elementwise min).
  *
  * MinHash signatures are mergeable sketches: the signature of a UNION
  * of document sets is the elementwise minimum of their signatures, so
  * a corpus/group-level near-dup profile aggregates with partial+final
  * combine like any algebraic aggregate — no row data moves, only
  * k-long arrays (SURVEY §7.3's "custom Aggregator for sketch types").
  *
  * Null inputs are ignored; an empty group yields null (zero value is
  * the identity signature of Long.MaxValue entries).
  */
class MinHashUnion(k: Int) extends Aggregator[Seq[Long], Array[Long], Seq[Long]] {

  override def zero: Array[Long] = Array.fill(k)(Long.MaxValue)

  override def reduce(acc: Array[Long], sig: Seq[Long]): Array[Long] = {
    if (sig != null) {
      var i = 0
      val n = math.min(k, sig.length)
      while (i < n) { if (sig(i) < acc(i)) acc(i) = sig(i); i += 1 }
    }
    acc
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < k) { if (b(i) < a(i)) a(i) = b(i); i += 1 }
    a
  }

  override def finish(acc: Array[Long]): Seq[Long] =
    if (acc.forall(_ == Long.MaxValue)) null else acc.toSeq

  override def bufferEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()

  override def outputEncoder: Encoder[Seq[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
}

object MinHashUnion {
  /** Column form: `MinHashUnion.agg(32)(col("sig"))`. */
  def agg(k: Int)(sig: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.udaf(new MinHashUnion(k),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]())
      .apply(sig)
}
