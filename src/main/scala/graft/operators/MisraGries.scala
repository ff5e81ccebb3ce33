package graft.operators

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.col

/** Misra–Gries heavy hitters (Misra & Gries 1982) as a mergeable Spark
  * `Aggregator`: a k-counter summary that after one pass over N rows
  * is guaranteed to contain EVERY key with true frequency > N/k, each
  * with a count under-estimating truth by at most N/k — the
  * deterministic-guarantee counterpart of the count-min sketch (q103's
  * probabilistic point estimates, q112's inner products). This is the
  * sketch behind "which domains dominate this crawl shard" at 100 TB:
  * state is ≤ k counters per partition regardless of key cardinality,
  * partials merge associatively (Agarwal et al. 2013, mergeable
  * summaries: add counts, then subtract the (k+1)-th largest and drop
  * non-positives), so it rides an ordinary map-side-combined
  * aggregate.
  *
  * Caveat a correctness gate must respect: candidate counts (and
  * near-threshold candidate MEMBERSHIP) depend on merge order, so a
  * query exposes the summary only through its order-independent
  * guarantees — intersect candidates with exact counts and keep keys
  * above N/k (deterministic, ⊇-pinned), and assert the count error
  * band rather than the counts. */
object MisraGries {

  type Counters = Map[String, Long]

  final case class MGEntry(hkey: String, mg_count: Long)

  /** The summary as an `Aggregator` with a columnar (array-of-struct)
    * result, so a streaming query's sink table reads it back. Entries
    * sort by key so the emitted array is deterministic given the
    * (merge-order-dependent) counter state. */
  final class MGEntriesAggregator(k: Int)
      extends Aggregator[String, Counters, Seq[MGEntry]] {
    require(k >= 2)

    def zero: Counters = Map.empty

    /** Trim to at most `k` keys: subtract the (k+1)-th largest count
      * from every counter and drop non-positives — the classic
      * decrement loop, batched. */
    private def trim(m: Counters): Counters =
      if (m.size <= k) m
      else {
        val cut = m.valuesIterator.toSeq.sorted(Ordering[Long].reverse)(k)
        m.collect { case (key, n) if n - cut > 0 => key -> (n - cut) }
      }

    def reduce(m: Counters, key: String): Counters =
      m.get(key) match {
        case Some(n) => m.updated(key, n + 1)
        case None    => trim(m.updated(key, 1L))
      }

    def merge(a: Counters, b: Counters): Counters =
      trim(b.foldLeft(a) { case (m, (key, n)) =>
        m.updated(key, m.getOrElse(key, 0L) + n)
      })

    def finish(m: Counters): Seq[MGEntry] =
      m.toSeq.sortBy(_._1).map { case (key, n) => MGEntry(key, n) }

    def bufferEncoder: Encoder[Counters] = Encoders.kryo[Counters]
    def outputEncoder: Encoder[Seq[MGEntry]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[MGEntry]]()
  }

  /** One-pass candidate summary of `df.keyCol` (≤ k entries; superset
    * of every key with count > N/k). The result is driver-side by
    * design — it is the whole point of the sketch that it fits there. */
  def candidates(df: DataFrame, keyCol: String, k: Int): Counters =
    df.select(col(keyCol)).as(Encoders.STRING)
      .select(new MGEntriesAggregator(k).toColumn).head()
      .map(e => e.hkey -> e.mg_count).toMap
}
