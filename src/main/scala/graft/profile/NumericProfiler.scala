package graft.profile

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Single-pass whole-table profiler.
  *
  * The reference re-scans the source once per column
  * (jar/ProfileJob.java:94-113 — its documented anti-pattern #6) and once
  * more for the completeness sink (RowStatsCollectHelper). Here ALL
  * columns' statistics — counts, null/empty tallies, moments, length
  * stats, string type census, and the whole-row completeness count — are
  * computed in ONE global aggregate over ONE scan: a partial aggregate
  * per partition (a few hundred bytes of state per column) merged in a
  * single-stage reduce. At 100 TB / 1000 executors this is
  * embarrassingly parallel with no data shuffle: only tiny aggregate
  * buffers cross the wire.
  *
  * Raw (M2, M3, M4) come straight from the [[MomentsAgg]] kernel (one
  * order-4 Pébay buffer per column — the reference's StatsPojo.reduce,
  * StatsPojo.java:101-155); count, mean, min and max from `count`,
  * `avg`, `min` and `max`.
  */
object NumericProfiler {

  /** Double-cast rule (reference: CastUtils.java:47-65): numerics cast,
    * Date/Timestamp -> epoch millis, String/Boolean -> not numeric.
    * Deviation (documented fix of reference bug #3): Float/Decimal
    * profile numerically instead of throwing. */
  def numericValue(name: String, dt: DataType): Option[Column] = dt match {
    case _: NumericType => Some(col(name).cast(DoubleType))
    case TimestampType | TimestampNTZType =>
      Some(unix_millis(col(name).cast(TimestampType)).cast(DoubleType))
    case DateType =>
      Some(unix_millis(col(name).cast(TimestampType)).cast(DoubleType))
    case _ => None
  }

  /** Rendered-value length (reference: StatsPojo.java:403-433): strings
    * use length, booleans 4/5, integers decimal-string length,
    * floating-point the Calcite-style render ([[ValueRender]]),
    * Date/Timestamp no length. */
  def renderLength(name: String, dt: DataType): Option[Column] = dt match {
    case StringType => Some(length(col(name)))
    case BooleanType => Some(when(col(name), 4).otherwise(5))
    case ByteType | ShortType | IntegerType | LongType =>
      Some(length(col(name).cast(StringType)))
    case DoubleType =>
      Some(graft.functions.RenderLength.double_render_length(col(name)))
    case FloatType =>
      Some(graft.functions.RenderLength.float_render_length(col(name)))
    case _: DecimalType =>
      Some(graft.functions.RenderLength.decimal_render_length(col(name).cast(StringType)))
    case DateType | TimestampType | TimestampNTZType => None
    case _ => None
  }

  /** Whole-row completeness predicate: every field non-null and its
    * string rendering non-blank (reference:
    * RowStatsCollectHelper.java:31-38). */
  def completePredicate(schema: StructType): Column =
    schema.fields.map { f =>
      val base = col(f.name).isNotNull
      f.dataType match {
        case StringType => base && trim(col(f.name)) =!= ""
        case _ => base
      }
    }.reduce(_ && _)

  /** All aggregate columns for one field, stable `c{i}_` prefixes. */
  def aggsFor(i: Int, f: StructField): Seq[Column] = {
    val p = s"c${i}_"
    val c = col(f.name)
    val base = Seq(count(c).as(s"${p}nonnull"))
    val numeric = numericValue(f.name, f.dataType) match {
      case Some(dc) => Seq(
        count(dc).as(s"${p}n"),
        min(dc).as(s"${p}min"),
        max(dc).as(s"${p}max"),
        avg(dc).as(s"${p}avg"),
        MomentsAgg.column(dc).as(s"${p}moments"))
      // n = 0: parseRow reads no other moment column
      case None => Seq(lit(0L).as(s"${p}n"))
    }
    val empty = f.dataType match {
      case StringType =>
        Seq(sum(when(trim(c) === "", 1L).otherwise(0L)).as(s"${p}empty"))
      case _ => Seq(lit(0L).as(s"${p}empty"))
    }
    val len = renderLength(f.name, f.dataType) match {
      case Some(lc) => Seq(
        min(lc).cast(LongType).as(s"${p}len_min"),
        max(lc).cast(LongType).as(s"${p}len_max"),
        avg(lc).as(s"${p}len_avg"))
      case None => Seq(
        lit(null).cast(LongType).as(s"${p}len_min"),
        lit(null).cast(LongType).as(s"${p}len_max"),
        lit(null).cast(DoubleType).as(s"${p}len_avg"))
    }
    val census = f.dataType match {
      case StringType => TypeCensus.censusAggs(f.name, p)
      case _ => TypeCensus.counterNames.map(k => lit(null).cast(LongType).as(s"$p$k"))
    }
    base ++ numeric ++ empty ++ len ++ census
  }

  /** ONE job, ONE scan, zero shuffles (global partial+final aggregate):
    * basic stats + lengths + census + completeness for every column. */
  def profile(df: DataFrame): TableProfile =
    parseRow(aggregate(df).head(), df.schema)

  /** The one-row global aggregate [[profile]] collects. */
  def aggregate(df: DataFrame): DataFrame = {
    val schema = df.schema
    val aggCols =
      Seq(count(lit(1)).as("row_count"),
        sum(when(completePredicate(schema), 1L).otherwise(0L))
          .as("complete_records")) ++
        schema.fields.zipWithIndex.flatMap { case (f, i) => aggsFor(i, f) }
    df.agg(aggCols.head, aggCols.tail: _*)
  }

  private def parseRow(row: Row, schema: StructType): TableProfile = {
    def getL(name: String): Long =
      if (row.isNullAt(row.fieldIndex(name))) 0L else row.getAs[Long](name)
    def getD(name: String): Double =
      if (row.isNullAt(row.fieldIndex(name))) Double.NaN
      else row.getAs[Double](name)
    def optL(name: String): Option[Long] =
      if (row.isNullAt(row.fieldIndex(name))) None else Some(row.getAs[Long](name))
    def optD(name: String): Option[Double] =
      if (row.isNullAt(row.fieldIndex(name))) None else Some(row.getAs[Double](name))

    val rowCount = getL("row_count")
    val cols = schema.fields.zipWithIndex.map { case (f, i) =>
      val p = s"c${i}_"
      val n = getL(s"${p}n")
      val m =
        if (n == 0L) Moments.zero
        else {
          val k = row.getStruct(row.fieldIndex(s"${p}moments"))
          Moments(n, getD(s"${p}avg"), k.getAs[Double]("m2"),
            k.getAs[Double]("m3"), k.getAs[Double]("m4"),
            getD(s"${p}min"), getD(s"${p}max"))
        }
      val census = f.dataType match {
        case StringType => Some(Census(
          getL(s"${p}boolean_values"), getL(s"${p}int_values"),
          getL(s"${p}long_values"), getL(s"${p}float_values"),
          getL(s"${p}double_values"), getL(s"${p}date_values")))
        case _ => None
      }
      ColumnProfile(
        name = f.name,
        dataType = f.dataType.simpleString,
        rowCount = rowCount,
        nullValues = rowCount - getL(s"${p}nonnull"),
        emptyStrings = getL(s"${p}empty"),
        moments = m,
        minLength = optL(s"${p}len_min"),
        maxLength = optL(s"${p}len_max"),
        avgLength = optD(s"${p}len_avg"),
        census = census)
    }
    TableProfile(rowCount, getL("complete_records"), cols.toSeq)
  }
}
