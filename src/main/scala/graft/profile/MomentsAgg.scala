package graft.profile

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Cast, CreateNamedStruct, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.CentralMomentAgg
import org.apache.spark.sql.functions.{lit, pow, sqrt, when}
import org.apache.spark.sql.graft.SqlShims
import org.apache.spark.sql.types.{DataType, LongType}

/** The moments kernel: the count and raw central moments
  * `(n, m2, m3, m4)` of a double column in one fixed-width buffer —
  * Catalyst's `CentralMomentAgg` (the Pébay update and merge of
  * [[Moments]], reference: StatsPojo.java:101-155) at order 4. Nulls
  * are skipped and a NaN counts, as in `count`; a NaN propagates into
  * every moment. [[NumericProfiler]] takes its numeric-value count from
  * `n`. It and [[graft.streaming.StreamingProfile.windowedMoments]] run
  * the kernel beside `avg`, `min` and `max` and take the mean from
  * `avg()` (the rendered reports are pinned to it), so the buffer's
  * running mean is not part of the result. [[MomentsAgg.derived]] is
  * the column form of the statistics [[DerivedStats]] derives from it.
  */
case class MomentsAgg(child: Expression)
    extends CentralMomentAgg(child, nullOnDivideByZero = false) {

  override protected def momentOrder: Int = 4

  override def nullable: Boolean = false

  override val evaluateExpression: Expression = CreateNamedStruct(Seq(
    Literal("n"), Cast(n, LongType), Literal("m2"), m2, Literal("m3"), m3, Literal("m4"), m4))

  override def dataType: DataType = evaluateExpression.dataType

  override def prettyName: String = "moments"

  override protected def withNewChildInternal(newChild: Expression): MomentsAgg =
    copy(child = newChild)
}

object MomentsAgg {

  /** Column form: `df.agg(MomentsAgg.column(col("x")).as("m"))`; the
    * input is implicitly cast to double. */
  def column(c: Column): Column =
    SqlShims.column(MomentsAgg(SqlShims.expression(c)).toAggregateExpression())

  /** The derived moments of a kernel result `m` over `n` (long) values,
    * keyed by name: `var_pop`, `var_samp`, `stddev_pop`, `skew_pop` and
    * `kurt_pop`, with [[DerivedStats]]' formulas and guards (NaN
    * variance when n = 0, NaN sample variance when n ≤ 1, zero skewness
    * and kurtosis when M2 = 0). The columns are not aliased. */
  def derived(n: Column, m: Column): Map[String, Column] = {
    val (nd, m2, m3, m4) = (n.cast("double"), m("m2"), m("m3"), m("m4"))
    val varPop = when(n === 0L, lit(Double.NaN)).otherwise(m2 / nd)
    Map(
      "var_pop" -> varPop,
      "var_samp" -> when(n <= 1L, lit(Double.NaN)).otherwise(m2 / (nd - 1d)),
      "stddev_pop" -> sqrt(varPop),
      "skew_pop" -> when(m2 === 0d, lit(0d)).otherwise(m3 * sqrt(nd) / pow(m2, 1.5)),
      "kurt_pop" -> when(m2 === 0d, lit(0d)).otherwise(nd * m4 / (m2 * m2)))
  }
}
