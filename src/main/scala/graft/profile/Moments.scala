package graft.profile

/** Streaming central-moment accumulator with associative + commutative
  * pairwise merge (Pébay 2008; Chan/Golub/LeVeque 1979).
  *
  * Mirrors the merge semantics of the reference accumulator
  * (reference: org/apache/flink/stats/StatsPojo.java:101-155 — mean merge
  * `u1 + n2*delta/(n1+n2)` at :142-146, M2/M3/M4 pairwise updates at
  * :119-147, NaN-aware min/max at :139-140 and :547-553), but implemented
  * as an immutable Scala value class for driver-side folds and merges.
  * The profilers run the same merge inside Spark as the [[MomentsAgg]]
  * kernel; this fold is the reference the kernel is tested against.
  *
  * Invariants: `n == 0` implies mean=0, m2=m3=m4=0, min/max=NaN.
  */
final case class Moments(
    n: Long,
    mean: Double,
    m2: Double, // sum (x - mean)^2  (unnormalized variance)
    m3: Double, // sum (x - mean)^3
    m4: Double, // sum (x - mean)^4
    min: Double,
    max: Double) {

  def add(x: Double): Moments = merge(Moments.one(x))

  /** Pairwise merge — associative & commutative (property-tested). */
  def merge(o: Moments): Moments = {
    if (n == 0L) o
    else if (o.n == 0L) this
    else {
      val n1 = n.toDouble
      val n2 = o.n.toDouble
      val nt = n1 + n2
      val delta = o.mean - mean
      val d2 = delta * delta
      val newMean = mean + n2 * delta / nt
      val newM2 = m2 + o.m2 + d2 * n1 * n2 / nt
      val newM3 = m3 + o.m3 +
        delta * d2 * n1 * n2 * (n1 - n2) / (nt * nt) +
        3.0 * delta * (n1 * o.m2 - n2 * m2) / nt
      val newM4 = m4 + o.m4 +
        d2 * d2 * n1 * n2 * (n1 * n1 - n1 * n2 + n2 * n2) / (nt * nt * nt) +
        6.0 * d2 * (n1 * n1 * o.m2 + n2 * n2 * m2) / (nt * nt) +
        4.0 * delta * (n1 * o.m3 - n2 * m3) / nt
      Moments(
        n + o.n, newMean, newM2, newM3, newM4,
        // NaN-aware like the reference (StatsPojo.java:547-553):
        // java.lang.Math.min/max propagate NaN.
        math.min(min, o.min), math.max(max, o.max))
    }
  }
}

object Moments {
  val zero: Moments = Moments(0L, 0.0, 0.0, 0.0, 0.0, Double.NaN, Double.NaN)
  def one(x: Double): Moments = Moments(1L, x, 0.0, 0.0, 0.0, x, x)
  def of(xs: Iterable[Double]): Moments = xs.foldLeft(zero)(_.add(_))
}
