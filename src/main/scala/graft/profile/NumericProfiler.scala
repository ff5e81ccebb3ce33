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
  * The numeric-value count and raw (M2, M3, M4) come straight from the
  * [[MomentsAgg]] kernel (one order-4 Pébay buffer per column — the
  * reference's StatsPojo.reduce, StatsPojo.java:101-155); mean, min and
  * max from `avg`, `min` and `max`.
  *
  * A column gets only the aggregates that apply to its type: no
  * constant columns stand in for a moment, length, empty count or
  * census it does not have, and [[profile]] reads a missing one as it
  * reads a null one. Columns are resolved by quoted name
  * ([[column]]), so any name a table can carry profiles.
  */
object NumericProfiler {

  /** The column named `name`, quoted: dots, spaces and backticks in
    * the name are part of it, never a field path or SQL syntax. */
  def column(name: String): Column = col("`" + name.replace("`", "``") + "`")

  /** Double-cast rule (reference: CastUtils.java:47-65): numerics cast,
    * Date/Timestamp -> epoch millis, String/Boolean -> not numeric.
    * Deviation (documented fix of reference bug #3): Float/Decimal
    * profile numerically instead of throwing. */
  def numericValue(name: String, dt: DataType): Option[Column] = dt match {
    case _: NumericType => Some(column(name).cast(DoubleType))
    case TimestampType | TimestampNTZType =>
      Some(unix_millis(column(name).cast(TimestampType)).cast(DoubleType))
    case DateType =>
      Some(unix_millis(column(name).cast(TimestampType)).cast(DoubleType))
    case _ => None
  }

  /** Rendered-value length (reference: StatsPojo.java:403-433): strings
    * use length, booleans 4/5, integers decimal-string length,
    * floating-point the Calcite-style render ([[ValueRender]]),
    * Date/Timestamp no length. */
  def renderLength(name: String, dt: DataType): Option[Column] = {
    val c = column(name)
    dt match {
      case _: StringType => Some(length(c))
      case BooleanType => Some(when(c, 4).otherwise(5))
      case ByteType | ShortType | IntegerType | LongType =>
        Some(length(c.cast(StringType)))
      case DoubleType =>
        Some(graft.functions.RenderLength.double_render_length(c))
      case FloatType =>
        Some(graft.functions.RenderLength.float_render_length(c))
      case _: DecimalType =>
        Some(graft.functions.RenderLength.decimal_render_length(c.cast(StringType)))
      case DateType | TimestampType | TimestampNTZType => None
      case _ => None
    }
  }

  /** Whole-row completeness predicate: every field non-null and its
    * string rendering non-blank (reference:
    * RowStatsCollectHelper.java:31-38). A row of no columns is complete;
    * the optimizer drops the leading `true`. */
  def completePredicate(schema: StructType): Column =
    schema.fields.map { f =>
      val c = column(f.name)
      f.dataType match {
        case _: StringType => c.isNotNull && trim(c) =!= ""
        case _ => c.isNotNull
      }
    }.foldLeft(lit(true))(_ && _)

  /** The aggregate columns that apply to one field, stable `c{i}_`
    * prefixes. */
  def aggsFor(i: Int, f: StructField): Seq[Column] = {
    val p = s"c${i}_"
    val c = column(f.name)
    val numeric = numericValue(f.name, f.dataType).toSeq.flatMap(dc => Seq(
      min(dc).as(s"${p}min"),
      max(dc).as(s"${p}max"),
      avg(dc).as(s"${p}avg"),
      MomentsAgg.column(dc).as(s"${p}moments")))
    val len = renderLength(f.name, f.dataType).toSeq.flatMap(lc => Seq(
      min(lc).cast(LongType).as(s"${p}len_min"),
      max(lc).cast(LongType).as(s"${p}len_max"),
      avg(lc).as(s"${p}len_avg")))
    val string = f.dataType match {
      case _: StringType =>
        sum(when(trim(c) === "", 1L).otherwise(0L)).as(s"${p}empty") +:
          TypeCensus.censusAggs(f.name, p)
      case _ => Nil
    }
    count(c).as(s"${p}nonnull") +: (numeric ++ len ++ string)
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
    // a column aggsFor did not emit reads as a null one
    val at = row.schema.fieldNames.zipWithIndex.toMap
    def opt[T](name: String): Option[T] =
      at.get(name).filterNot(row.isNullAt(_)).map(row.getAs[T](_))
    def getL(name: String): Long = opt[Long](name).getOrElse(0L)
    def getD(name: String): Double = opt[Double](name).getOrElse(Double.NaN)

    val rowCount = getL("row_count")
    val cols = schema.fields.zipWithIndex.map { case (f, i) =>
      val p = s"c${i}_"
      val m = opt[Row](s"${p}moments").filter(_.getAs[Long]("n") > 0L)
        .fold(Moments.zero) { k =>
          Moments(k.getAs[Long]("n"), getD(s"${p}avg"), k.getAs[Double]("m2"),
            k.getAs[Double]("m3"), k.getAs[Double]("m4"),
            getD(s"${p}min"), getD(s"${p}max"))
        }
      val census = f.dataType match {
        case _: StringType => Some(Census(
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
        minLength = opt[Long](s"${p}len_min"),
        maxLength = opt[Long](s"${p}len_max"),
        avgLength = opt[Double](s"${p}len_avg"),
        census = census)
    }
    TableProfile(rowCount, getL("complete_records"), cols.toSeq)
  }
}
