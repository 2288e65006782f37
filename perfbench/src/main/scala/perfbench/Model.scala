package perfbench

import scala.collection.mutable.ArrayBuffer

/** SplitMix64: the only source of randomness, so a seed fixes every input. */
final class Rng(seed: Long) {
  private var s = seed
  def nextLong(): Long = {
    s += 0x9E3779B97F4A7C15L
    var z = s
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def nextInt(n: Int): Int = java.lang.Math.floorMod(nextLong(), n.toLong).toInt
}

/** The point formulas shared by the Spark-side preload and the model, so
  * the model knows every stored value without reading the store back.
  */
object Points {
  /** 2023-11-15T00:00Z in µs: a day boundary, so the day partitions a
    * preload spans do not depend on the seed. */
  val Base = 1700006400000000L
  /** One slot per point index (and per POST of a live script). */
  val Step = 1000000L

  def value(seed: Long, id: Long): Double =
    java.lang.Math.floorMod(id * 2654435761L + seed * 97L + 17L, 1000003L) % 2000 / 4.0
  def loc(seed: Long, id: Long): Int = java.lang.Math.floorMod(id * 7919L + seed, 5L).toInt
  def kind(seed: Long, id: Long): Int = java.lang.Math.floorMod(id * 31L + seed, 3L).toInt

  def tagJson(loc: Int, kind: Int): String = s"""[{"loc": "$loc"}, {"kind": "k$kind"}]"""
}

/** The generator's model of one series: points sorted by timestamp, with
  * their value and tags (loc = -1 for an untagged point).
  */
final class SeriesModel(val name: String) {
  val ts = ArrayBuffer.empty[Long]
  val vs = ArrayBuffer.empty[Double]
  val locs = ArrayBuffer.empty[Int]
  val kinds = ArrayBuffer.empty[Int]

  def size: Int = ts.size

  def add(t: Long, v: Double, loc: Int = -1, kind: Int = -1): Unit = {
    val at = if (ts.isEmpty || t > ts.last) ts.size else lowerBound(t)
    require(at == ts.size || ts(at) != t, s"duplicate timestamp $t in $name")
    ts.insert(at, t); vs.insert(at, v); locs.insert(at, loc); kinds.insert(at, kind)
  }

  /** First index whose timestamp is >= t. */
  def lowerBound(t: Long): Int = {
    var lo = 0; var hi = ts.size
    while (lo < hi) { val m = (lo + hi) >>> 1; if (ts(m) < t) lo = m + 1 else hi = m }
    lo
  }

  /** Removes points with t1 <= ts <= t2; returns how many. */
  def deleteRange(t1: Long, t2: Long): Int = {
    val a = lowerBound(t1); val b = lowerBound(t2 + 1)
    Seq(ts, vs, locs, kinds).foreach(_.remove(a, b - a))
    b - a
  }

  def valueAt(t: Long): Double = vs(lowerBound(t))
  def lastTs(n: Int): Seq[Long] = ts.takeRight(n).reverse.toSeq
  def firstTs(n: Int): Seq[Long] = ts.take(n).toSeq
  def sinceTs(t: Long): Seq[Long] = ts.drop(lowerBound(t)).reverse.toSeq
  def rangeTs(t1: Long, t2: Long): Seq[Long] =
    ts.slice(lowerBound(t1), lowerBound(t2 + 1)).reverse.toSeq

  def values(keep: Int => Boolean = _ => true): Array[Double] =
    vs.indices.filter(keep).map(vs).toArray
  def hasLoc(l: Int): Int => Boolean = i => locs(i) == l
  def kindContains(k: String): Int => Boolean = i => kinds(i) >= 0 && s"k${kinds(i)}".contains(k)
}

object Aggregates {
  val all: Seq[String] = Seq("sum", "count", "max", "min", "mean", "sd", "median")

  /** The reference's aggregate semantics: sum and count of nothing are 0,
    * the rest of nothing is no value (the `{}` reply). */
  def apply(kind: String, xs: Array[Double]): Option[Double] = kind match {
    case "sum" => Some(xs.sum)
    case "count" => Some(xs.length.toDouble)
    case _ if xs.isEmpty => None
    case "max" => Some(xs.max)
    case "min" => Some(xs.min)
    case "mean" => Some(xs.sum / xs.length)
    case "sd" if xs.length > 1 =>
      val m = xs.sum / xs.length
      Some(math.sqrt(xs.map(x => (x - m) * (x - m)).sum / (xs.length - 1)))
    case "sd" => None
    case "median" => Some(Stats.quantile(xs.toSeq, 0.5))
  }
}
