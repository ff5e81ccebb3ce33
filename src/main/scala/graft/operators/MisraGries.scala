package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions.{col, filter, struct, transform, udaf}

/** Misra–Gries heavy hitters (Misra & Gries 1982) as a VIEW of the
  * [[TopKAggregate]] Space-Saving state: a k-counter summary that after
  * one pass over N rows is guaranteed to contain EVERY key with true
  * frequency > N/k, each with a count under-estimating truth by at most
  * N/k — the deterministic-guarantee counterpart of the count-min
  * sketch (q103's probabilistic point estimates, q112's inner
  * products). This is the sketch behind "which domains dominate this
  * crawl shard" at 100 TB: state is ≤ k counters per partition
  * regardless of key cardinality and partials merge associatively, so
  * it rides an ordinary map-side-combined aggregate.
  *
  * The two summaries are isomorphic (Agarwal et al. 2013, mergeable
  * summaries): a Space-Saving sketch with `capacity = k` holds the
  * Misra–Gries counters as its lower bounds, `mg_count = cnt − err`.
  * Counters at 0 or below are dropped, as Misra–Gries drops them.
  *
  * Caveat a correctness gate must respect: candidate counts (and
  * near-threshold candidate MEMBERSHIP) depend on merge order, so a
  * query exposes the summary only through its order-independent
  * guarantees — intersect candidates with exact counts and keep keys
  * above N/k (deterministic, ⊇-pinned), and assert the count error
  * band rather than the counts. */
object MisraGries {

  type Counters = Map[String, Long]

  /** The summary of string column `key` as an aggregate column:
    * `array<struct<hkey, mg_count>>`, so a streaming query's sink table
    * reads it back. */
  def entries(key: Column, k: Int): Column = {
    require(k >= 2)
    val sketch = udaf(TopKAggregate.topKAgg(k, capacity = k), Encoders.STRING)(key)
    filter(
      transform(sketch, e =>
        struct(e("value").as("hkey"), (e("cnt") - e("err")).as("mg_count"))),
      _("mg_count") > 0)
  }

  /** One-pass candidate summary of `df.keyCol` (≤ k entries; superset
    * of every key with count > N/k). The result is driver-side by
    * design — it is the whole point of the sketch that it fits there. */
  def candidates(df: DataFrame, keyCol: String, k: Int): Counters =
    df.select(entries(col(keyCol), k)).head().getSeq[Row](0)
      .map(e => e.getString(0) -> e.getLong(1)).toMap
}
