package graft.profile

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.PatternMask

/** Top-K most frequent values and character-class patterns per string
  * column (reference: jar/ProfileJob.java:183-216).
  *
  * The reference builds one tuple `(colIdx, value, pattern(value), count)`
  * per string value (StringStatsTuple.java:6-46) and ranks both lists
  * from it, sorting ALL grouped counts on a parallelism-1 task
  * (jar/ProfileJob.java:195-196 — a deliberate gather bottleneck).
  * Spark-native design: ONE query for every string column and both
  * lists. A `stack` emits two rows per string column of each input row,
  * `("value", col_name, value)` and `("pattern", col_name, mask(value))`;
  * ONE aggregation shuffle keyed by `(kind, col_name, key)` counts them,
  * then a `row_number` window per `(kind, col_name)` keeps the top K.
  * Partial (map-side) aggregation absorbs heavy hitters before the
  * shuffle, so skewed top values (the common case — that's why they're
  * "top") cost no skewed shuffle. A partial `WindowGroupLimit` before
  * the window's exchange sends at most K rows per (kind, col_name) from
  * each partition, so the window is no gather bottleneck either.
  *
  * Tie-break: the reference's sort is unstable/unspecified; we DEFINE
  * (count DESC, key ASC) for determinism (SURVEY.md §7.3).
  *
  * [[topKValuesAll]] and [[topKPatternsAll]] are the two views of
  * [[topKAll]], filtered on `kind`; Catalyst pushes that filter below
  * the aggregate, so each view shuffles only its own rows.
  */
object TopK {

  /** `kind` of the value rows and the pattern rows; each is also the
    * key column's name in its view. */
  val Value = "value"
  val Pattern = "pattern"

  /** Both top-K lists of every column in ONE query:
    * stack -> groupBy(kind, col_name, key) -> row_number <= k per
    * (kind, col_name). Null values are not counted.
    * Output: (kind, col_name, key, cnt, rank). */
  def topKAll(df: DataFrame, strCols: Seq[String], k: Int = 20): DataFrame = {
    val args = strCols.flatMap { c =>
      val v = NumericProfiler.column(c).cast("string")
      Seq(lit(Value), lit(c), v, lit(Pattern), lit(c), PatternMask.pattern_mask(v))
    }
    val counts = df.select(stack((lit(2 * strCols.size) +: args): _*)
        .as(Seq("kind", "col_name", "key")))
      .filter(col("key").isNotNull)
      .groupBy("kind", "col_name", "key").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("kind", "col_name").orderBy(desc("cnt"), asc("key"))
    counts.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Top-K values per column. Output: (col_name, value, cnt, rank). */
  def topKValuesAll(df: DataFrame, strCols: Seq[String], k: Int = 20): DataFrame =
    view(df, strCols, k, Value)

  /** Top-K patterns per column. Output: (col_name, pattern, cnt, rank). */
  def topKPatternsAll(df: DataFrame, strCols: Seq[String], k: Int = 20): DataFrame =
    view(df, strCols, k, Pattern)

  private def view(df: DataFrame, strCols: Seq[String], k: Int, kind: String): DataFrame =
    topKAll(df, strCols, k).filter(col("kind") === kind)
      .select(col("col_name"), col("key").as(kind), col("cnt"), col("rank"))
}
