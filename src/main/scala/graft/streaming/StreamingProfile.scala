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
  * Shapes supported:
  *  - [[windowedStats]]: event-time tumbling-window stats per key with
  *    a watermark bounding state;
  *  - [[windowedMoments]]: same windows, full moments via the
  *    [[MomentsAgg]] kernel the batch profiler uses (variance/skew/
  *    kurtosis on a stream).
  *
  * At scale: state is hash-partitioned by (window, key); each micro-
  * batch shuffles only partial aggregates; the watermark expires state
  * so memory is bounded by (#keys × watermark horizon / window).
  */
object StreamingProfile {

  /** Tumbling-window basic stats over a streaming frame. `events` must
    * have an event-time column `tsCol` (TimestampType), a key column and
    * a numeric value column. */
  def windowedStats(
      events: DataFrame, tsCol: String, keyCol: String, valueCol: String,
      windowLen: String = "1 hour", watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen).as("w"), col(keyCol))
      .agg(
        count(lit(1)).as("n_events"),
        avg(col(valueCol)).as("avg_value"),
        // exact cent sum alongside the float mean: money-valued columns
        // have terminating decimal means that land on rounding edges,
        // so cross-engine gates derive their mean from this instead
        sum(floor(col(valueCol) * lit(100d)).cast("long")).as("sum_cents"),
        min(col(valueCol)).as("min_value"),
        max(col(valueCol)).as("max_value"),
        stddev_pop(col(valueCol)).as("stddev_value"))
      .select(col("w.start").as("window_start"), col(keyCol),
        col("n_events"), col("avg_value"), col("sum_cents"),
        col("min_value"), col("max_value"), col("stddev_value"))

  /** Full moments per window and key from the aggregates
    * [[graft.profile.NumericProfiler]] runs per column (`count`, `avg`,
    * `min`, `max`, [[MomentsAgg]]): the state is one fixed-width row.
    * `var_pop`, `skew_pop` and `kurt_pop` keep
    * [[graft.profile.DerivedStats]]' guards (NaN variance when n = 0,
    * zero skewness and kurtosis when M2 = 0); the raw `m2`, `m3`, `m4`
    * come last. `min`/`max` order NaN above every number, as Spark does. */
  def windowedMoments(
      events: DataFrame, tsCol: String, keyCol: String, valueCol: String,
      windowLen: String = "1 hour", watermark: String = "10 minutes"): DataFrame = {
    val v = col(valueCol).cast("double")
    val cents = floor(col(valueCol) * lit(100d)).cast("long")
    val (n, m2, m3, m4) = (col("n").cast("double"), col("m.m2"), col("m.m3"), col("m.m4"))
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen).as("w"), col(keyCol))
      .agg(count(v).as("n"), avg(v).as("mean"), min(v).as("min"), max(v).as("max"),
        MomentsAgg.column(v).as("m"),
        // exact integer moments beside the float state — gate means and
        // variances derive from them (money-valued moments land on
        // rounding edges; see windowedStats / QueryUtil.centMean6)
        sum(cents).as("sum_cents"),
        sum(cents * cents).as("sum_cents2"))
      .select(col("w.start").as("window_start"), col(keyCol),
        col("n"), col("mean"), col("sum_cents"), col("sum_cents2"),
        when(col("n") === 0L, lit(Double.NaN)).otherwise(m2 / n).as("var_pop"),
        when(m2 === 0d, lit(0d)).otherwise(m3 * sqrt(n) / pow(m2, 1.5)).as("skew_pop"),
        when(m2 === 0d, lit(0d)).otherwise(n * m4 / (m2 * m2)).as("kurt_pop"),
        col("min"), col("max"), m2.as("m2"), m3.as("m3"), m4.as("m4"))
  }
}
