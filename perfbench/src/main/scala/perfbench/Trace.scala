package perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.commons.math3.distribution.BetaDistribution

/** One timed interval of the run: `layer` names the module whose call
  * it wraps (or "bench" for the benchmark's own phases). */
final case class Span(id: Int, parent: Int, name: String, layer: String,
                      startNs: Long, endNs: Long)

/** In-memory span tree: run → phase → operation → layer call. Spans are
  * recorded only when tracing is on and written once, at the end. */
final class Trace(val on: Boolean) {
  private val ids = new AtomicInteger(0)
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = List(0)
  /** nanoTime minus wall-clock nanos, to place Spark's millisecond
    * timestamps (jobs, planning phases, batches) on the span clock. */
  val clockOffsetNs: Long = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def current: Int = synchronized(stack.head)

  def apply[T](name: String, layer: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = synchronized { val p = stack.head; stack = id :: stack; p }
      val start = System.nanoTime()
      try body
      finally synchronized {
        stack = stack.tail
        spans += Span(id, parent, name, layer, start, System.nanoTime())
      }
    }

  /** Records an interval timed elsewhere (wall-clock milliseconds). */
  def addMs(name: String, layer: String, parent: Int, startMs: Long, endMs: Long): Int =
    if (!on) 0
    else {
      val id = ids.incrementAndGet()
      synchronized {
        spans += Span(id, parent, name, layer,
          startMs * 1000000L + clockOffsetNs, endMs * 1000000L + clockOffsetNs)
      }
      id
    }

  /** Per layer, the summed span time not covered by the span's children. */
  def selfSeconds: Map[String, Double] = synchronized {
    val kids = spans.groupBy(_.parent)
    spans.toSeq.groupMapReduce(_.layer) { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          val from = math.max(a, reach)
          (if (b > from) sum + (b - from) else sum, math.max(reach, b))
        }._1
      (s.endNs - s.startNs - covered) / 1e9
    }(_ + _)
  }

  /** Spans in id order, times in seconds from the earliest start. */
  def toJson: String = synchronized {
    val t0 = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    spans.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""layer":"${s.layer}","start_s":${(s.startNs - t0) / 1e9},""" +
        s""""end_s":${(s.endNs - t0) / 1e9}}"""
    }.mkString("[", ",\n", "]")
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case o: Option[_] => o.map(value).getOrElse("null")
    case other => str(other.toString)
  }
}

object Stats {
  /** Linear-interpolation percentile (q in [0, 1]); NaN when empty. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Harrell–Davis estimate of the q-quantile (q in (0, 1)) of values
    * that each stand for `weight` items: the mean of the sorted values
    * weighted by the Beta((n + 1)q, (n + 1)(1 - q)) mass over each
    * value's share of the cumulative weight. It draws on every value,
    * not on the one or two next to the quantile, so it does not jump
    * when two values swap order; NaN when empty. */
  def hdPct(xs: Seq[(Double, Double)], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sortBy(_._1)
      val total = s.map(_._2).sum
      val beta = new BetaDistribution(null, q * (s.size + 1), (1 - q) * (s.size + 1))
      val cdf = s.map(_._2).scanLeft(0.0)(_ + _)
        .map(c => beta.cumulativeProbability(math.min(1.0, c / total)))
      s.indices.map(i => s(i)._1 * (cdf(i + 1) - cdf(i))).sum
    }
}
