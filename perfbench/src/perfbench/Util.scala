package perfbench

import scala.collection.mutable

object Stats {
  def median(xs: Seq[Double]): Double = pct(xs, 50.0)

  /** Linear-interpolated percentile, like numpy's default. */
  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val r = p / 100.0 * (s.length - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  /** The highest of the usual percentiles with at least ten samples
    * beyond it, as (percentile, value).
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val p = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
      .find(p => xs.length * (1.0 - p / 100.0) >= 10.0).getOrElse(50.0)
    (p, pct(xs, p))
  }

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(math.log).sum / xs.length)
}

/** Zipf(s) over ranks 0 until n, mapped through a seeded permutation so
  * the hot keys differ from seed to seed.
  */
final class Zipf(n: Int, s: Double, rng: java.util.Random) {
  private val cdf = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
  }
  private val perm = {
    val a = Array.range(0, n)
    var i = n - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1
    }
    a
  }
  /** The key at popularity rank `r` (0 is the hottest). */
  def ranked(r: Int): Int = perm(r)
  def next(): Int = {
    val u = rng.nextDouble()
    var i = java.util.Arrays.binarySearch(cdf, u)
    if (i < 0) i = -i - 1
    perm(math.min(i, n - 1))
  }
}

/** What a workload hands back: named metrics with units, the
  * correctness tally and free-form detail for the record file.
  */
final class Result(val workload: String) {
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val named = mutable.LinkedHashMap.empty[String, (Double, String, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val detail = mutable.LinkedHashMap.empty[String, Any]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  /** One checked answer; `err` is None when it was right. */
  def check(err: Option[String]): Unit = {
    attempted += 1
    err.foreach { e => failed += 1; if (failures.length < 20) failures += e }
  }
  def checkEq[T](what: String, got: T, want: T): Unit =
    check(if (got == want) None else Some(s"$what: got $got, want $want"))

  /** A metric printed by name: value, unit and how it was sampled. */
  def metric(name: String, v: Double, unit: String, note: String = ""): Unit =
    named(name) = (v, unit, note)
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case i: Int => i.toString
    case l: Long => l.toString
    case b: Boolean => b.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case (a, b) => apply(Seq(a, b))
    case (a, b, c) => apply(Seq(a, b, c))
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case o => str(o.toString)
  }
}
