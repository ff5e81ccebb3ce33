package graft.operators

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Top-K frequent values with BOUNDED state — the Space-Saving sketch
  * (Metwally/Agrawal/El Abbadi, ICDT'05). This object is the sketch's
  * one owner: its [[Counters]] state, the update step, the merge and
  * the ranked finish. Every heavy-hitter caller reads it —
  * `topKAgg` as a batch `Aggregator` (q67),
  * [[graft.streaming.StreamingTopK]] as streaming state (q34), and
  * [[MisraGries]] as a view of the same state (q115/q118). This
  * completes the mergeable-summary family the engine leans on at
  * 100 TB — moments (Pébay), distinct (HLL), quantiles (GK), and heavy
  * hitters — every one an associative-commutative accumulator whose
  * partial states, not rows, cross the shuffle.
  *
  * vs the exact top-K (q07's groupBy.count + TakeOrderedAndProject):
  * exact top-K's intermediate is one row PER DISTINCT VALUE — fine for
  * profiling columns, quadratic pain for web-scale value domains.
  * Here every partial buffer holds ≤ `capacity` entries regardless of
  * the domain, with the classic guarantees: any value with true
  * frequency > N/capacity is present, and every reported count lies in
  * [true, true + err]. With `capacity` above the distinct-value count
  * the sketch IS exact (all errors 0) — the regime the q34/q67 gates
  * run in, making them DuckDB-oracle-checkable; the overflow regime's
  * bounds are property-tested in TopKAggregateSpec.
  *
  * The merge (Agarwal et al., PODS'12 "Mergeable summaries"): sum
  * counts and error bounds over the union, keep the `capacity`
  * largest. Deterministic ties everywhere: (count desc, value asc).
  * Null values are not counted, as in the batch profiler's top-K.
  */
object TopKAggregate {

  type Counters = Map[String, (Long, Long)] // value -> (count, error)

  final case class TopKEntry(value: String, cnt: Long, err: Long, rank: Int)

  /** One update step: add `cnt` occurrences of `value`. On overflow
    * the minimum-count entry is evicted and its count becomes the
    * newcomer's error bound. */
  def updateSketch(
      sketch: Counters, value: String, cnt: Long, capacity: Int): Counters =
    sketch.get(value) match {
      case Some((c, e)) => sketch.updated(value, (c + cnt, e))
      case None if sketch.size < capacity => sketch.updated(value, (cnt, 0L))
      case None =>
        val (minV, (minC, _)) = sketch.minBy { case (v, (c, _)) => (c, v) }
        (sketch - minV).updated(value, (minC + cnt, minC))
    }

  /** Entries in rank order: count desc, value asc. */
  private def ranked(s: Counters): Seq[(String, (Long, Long))] =
    s.toSeq.sortBy { case (v, (c, _)) => (-c, v) }

  def mergeSketches(a: Counters, b: Counters, capacity: Int): Counters = {
    // a value ABSENT from a FULL sketch may still have occurred up to
    // that sketch's minimum counter times (it could have been evicted,
    // or never admitted past the floor) — substituting 0 would break
    // the `reported >= true` overestimate invariant. Absent-side
    // contribution is therefore (min, min): count upper-bounded by the
    // floor, all of it potentially phantom. A sketch below capacity
    // never evicted, so absence there genuinely means zero.
    def floor(s: Counters): Long =
      if (s.size >= capacity) s.values.iterator.map(_._1).min else 0L
    val (fa, fb) = (floor(a), floor(b))
    val union = (a.keySet ++ b.keySet).iterator.map { v =>
      val (c1, e1) = a.getOrElse(v, (fa, fa))
      val (c2, e2) = b.getOrElse(v, (fb, fb))
      v -> (c1 + c2, e1 + e2)
    }.toMap
    if (union.size <= capacity) union else ranked(union).take(capacity).toMap
  }

  /** Top-`k` entries of a finished sketch, rank 1-based, deterministic
    * (count desc, value asc) order. */
  def finishSketch(s: Counters, k: Int): Seq[TopKEntry] =
    ranked(s).take(k).zipWithIndex
      .map { case ((v, (c, e)), i) => TopKEntry(v, c, e, i + 1) }

  /** The Aggregator — register with `functions.udaf(topKAgg(k, cap),
    * Encoders.STRING)` and use inside any groupBy. */
  def topKAgg(k: Int, capacity: Int): Aggregator[String, Counters, Seq[TopKEntry]] =
    new Aggregator[String, Counters, Seq[TopKEntry]] {
      def zero: Counters = Map.empty
      def reduce(s: Counters, v: String): Counters =
        if (v == null) s else updateSketch(s, v, 1L, capacity)
      def merge(a: Counters, b: Counters): Counters =
        mergeSketches(a, b, capacity)
      def finish(s: Counters): Seq[TopKEntry] = finishSketch(s, k)
      def bufferEncoder: Encoder[Counters] = Encoders.kryo[Counters]
      def outputEncoder: Encoder[Seq[TopKEntry]] =
        ExpressionEncoder[Seq[TopKEntry]]()
    }
}
