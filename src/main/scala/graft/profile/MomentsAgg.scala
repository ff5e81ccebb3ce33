package graft.profile

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Cast, CreateNamedStruct, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.CentralMomentAgg
import org.apache.spark.sql.graft.SqlShims
import org.apache.spark.sql.types.{DataType, LongType}

/** The moments kernel: the raw central moments `(n, mean, m2, m3, m4)`
  * of a double column in one fixed-width buffer — Catalyst's
  * `CentralMomentAgg` (the Pébay update and merge of [[Moments]],
  * reference: StatsPojo.java:101-155) at order 4. Nulls are skipped; a
  * NaN propagates into every moment. [[NumericProfiler]] and
  * [[graft.streaming.StreamingProfile.windowedMoments]] both run it
  * beside `count`, `avg`, `min` and `max`, taking the mean from `avg()`
  * (the rendered reports are pinned to it).
  */
case class MomentsAgg(child: Expression)
    extends CentralMomentAgg(child, nullOnDivideByZero = false) {

  override protected def momentOrder: Int = 4

  override def nullable: Boolean = false

  override val evaluateExpression: Expression = CreateNamedStruct(Seq(
    Literal("n"), Cast(n, LongType), Literal("mean"), avg,
    Literal("m2"), m2, Literal("m3"), m3, Literal("m4"), m4))

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
}
