package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.operators.TopKAggregate
import graft.operators.TopKAggregate.Counters

/** Streaming top-K frequent values with BOUNDED state — the streaming
  * form of the profiler's top-K surface (reference: batch global sort +
  * first(K), jar/ProfileJob.java:190-199; unbounded distinct values
  * make exact streaming top-K impossible in finite memory, so this uses
  * the Space-Saving sketch of Metwally/Agrawal/El Abbadi, ICDT'05).
  *
  * State per group key: the [[graft.operators.TopKAggregate]] sketch,
  * at most `capacity` (value → (count, error)) entries, advanced by its
  * update step and ranked by its finish — the same code as the batch
  * `Aggregator`. Guarantees: any value with true frequency >
  * N/capacity is present; reported count is within [true, true +
  * error]. Null values are not counted.
  *
  * Scale shape: micro-batch rows pre-aggregate to (key, value, cnt)
  * BEFORE the stateful shuffle — a per-partition hash combine
  * (`mapPartitions`; Dataset.groupByKey alone has no map-side
  * combine), so the exchange carries one row per distinct (key, value)
  * per input partition instead of one per event, and state is
  * hash-partitioned by group key across executors.
  */
object StreamingTopK {

  /** Top-k rows per key from a streaming (key, value) frame.
    * Output (update mode): key, value, cnt, err, rank. */
  def topK(
      events: DataFrame, keyCol: String, valueCol: String,
      k: Int, capacity: Int = 256): Dataset[TopKRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    // map-side combine: collapse the micro-batch partition to one
    // (key, value, cnt) row per distinct pair before the shuffle.
    // A streaming groupBy().count() can't precede the stateful op
    // (multiple-stateful-operator restriction), but a stateless
    // per-partition fold can — same effect on shuffle volume.
    val ds = events
      .select(col(keyCol).cast("string").as("k"),
        col(valueCol).cast("string").as("v"))
      .filter(col("v").isNotNull)
      .as[(String, String)]
      .mapPartitions { it =>
        val m = scala.collection.mutable.HashMap.empty[(String, String), Long]
        it.foreach { kv => m.update(kv, m.getOrElse(kv, 0L) + 1L) }
        m.iterator.map { case ((k, v), c) => (k, v, c) }
      }

    implicit val stateEnc = Encoders.kryo[Counters]

    ds.groupByKey(_._1)
      .flatMapGroupsWithState[Counters, TopKRow](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (key, rows, state: GroupState[Counters]) =>
          // merge the per-partition partial counts for this key
          val batchCounts = rows.foldLeft(Map.empty[String, Long]) {
            case (m, (_, v, c)) => m.updated(v, m.getOrElse(v, 0L) + c)
          }
          val sk0 = state.getOption.getOrElse(Map.empty: Counters)
          val sk = batchCounts.foldLeft(sk0) { case (s, (v, c)) =>
            TopKAggregate.updateSketch(s, v, c, capacity)
          }
          state.update(sk)
          TopKAggregate.finishSketch(sk, k).iterator
            .map(e => TopKRow(key, e.value, e.cnt, e.err, e.rank))
      }
  }
}

final case class TopKRow(key: String, value: String, cnt: Long, err: Long, rank: Int)
