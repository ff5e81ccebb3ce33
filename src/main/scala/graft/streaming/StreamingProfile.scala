package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.profile.MomentsAgg

/** Structured Streaming windowed profiling — the unbounded variant of
  * the profile surface (the reference is batch-only; its merge algebra
  * is what makes this work: the Pébay accumulator is associative +
  * commutative, so Spark can maintain it incrementally as streaming
  * state under arbitrary trigger boundaries and late-data merges).
  *
  * Shape supported: [[windowedMoments]], event-time tumbling-window
  * stats per key with a watermark bounding state — count, mean, min,
  * max and full moments via the [[MomentsAgg]] kernel the batch
  * profiler uses (variance/skew/kurtosis on a stream).
  *
  * At scale: state is hash-partitioned by (window, key); each micro-
  * batch shuffles only partial aggregates; the watermark expires state
  * so memory is bounded by (#keys × watermark horizon / window).
  */
object StreamingProfile {

  /** Full moments per window and key from the aggregates
    * [[graft.profile.NumericProfiler]] runs per column (`count`, `avg`,
    * `min`, `max`, [[MomentsAgg]]): the state is one fixed-width row.
    * `var_pop`, `skew_pop` and `kurt_pop` come from
    * [[MomentsAgg.derived]] with [[graft.profile.DerivedStats]]' guards
    * (NaN variance when n = 0, zero skewness and kurtosis when M2 = 0);
    * the raw `m2`, `m3`, `m4` come last. `min`/`max` order NaN above
    * every number, as Spark does. */
  def windowedMoments(
      events: DataFrame, tsCol: String, keyCol: String, valueCol: String,
      windowLen: String = "1 hour", watermark: String = "10 minutes"): DataFrame = {
    val v = col(valueCol).cast("double")
    val cents = floor(col(valueCol) * lit(100d)).cast("long")
    val d = MomentsAgg.derived(col("n"), col("m"))
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen).as("w"), col(keyCol))
      .agg(count(v).as("n"), avg(v).as("mean"), min(v).as("min"), max(v).as("max"),
        MomentsAgg.column(v).as("m"),
        // exact integer moments beside the float state — gate means and
        // variances derive from them (money-valued moments land on
        // rounding edges; see QueryUtil.centMean6)
        sum(cents).as("sum_cents"),
        sum(cents * cents).as("sum_cents2"))
      .select(col("w.start").as("window_start"), col(keyCol),
        col("n"), col("mean"), col("sum_cents"), col("sum_cents2"),
        d("var_pop").as("var_pop"), d("skew_pop").as("skew_pop"),
        d("kurt_pop").as("kurt_pop"),
        col("min"), col("max"), col("m.m2").as("m2"), col("m.m3").as("m3"),
        col("m.m4").as("m4"))
  }
}
