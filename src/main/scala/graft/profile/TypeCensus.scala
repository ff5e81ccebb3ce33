package graft.profile

import java.text.ParseException
import java.time.DateTimeException
import java.util.regex.Pattern
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, TimeZoneAwareExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.util.{LegacyDateFormats, TimestampFormatter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SqlShims
import org.apache.spark.sql.types.{DataType, Decimal, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Type-inference census for string columns: how many non-blank values
  * parse as boolean / int / long / float / double / date
  * (reference: org/apache/flink/stats/StatsPojo.java:306-381).
  *
  * Semantics notes (documented deviations, pinned by tests):
  *  - boolean counts ONLY case-insensitive "true" (Boolean.parseBoolean,
  *    reference StatsPojo.java:320-324) — "false" does not count, and the
  *    value is not trimmed first.
  *  - int/long use Java `parseInt`/`parseLong` grammar: optional sign,
  *    digits only, range-checked (via decimal cast, overflow-safe).
  *  - float/double use the decimal subset of the Java grammar: optional
  *    sign, decimal literal with optional exponent and optional f/F/d/D
  *    suffix, or NaN/Infinity. Hex float literals (a Java quirk) are NOT
  *    recognized — deviation documented. Float overflow still parses
  *    (Infinity) in Java, so float and double censuses agree by
  *    construction for any non-hex literal.
  *  - dates use the reference's 7 strict patterns
  *    (StatsPojo.java:373-381) with fixed-width shapes + calendar
  *    validation (DateUtils.parseDateStrictly analogue).
  *
  * Two renderings share the constants below. Spark runs ONE kernel per
  * string column, [[CensusMask]]: a codegen'd expression that computes
  * all six predicates in one pass over the value and returns them as a
  * bit mask; [[censusAggs]] sums its bits. The DuckDB oracle
  * ([[sqlCensusAggs]]) stays SQL text. The Spark side is no longer SQL:
  * six predicate trees per column (5 regexes, 7 timestamp parses,
  * `lower()`, a decimal cast) dominated the query optimization and
  * code generation of every profile, and Spark's string-literal
  * unescaping turned the float regex's `\.` into "any character".
  */
object TypeCensus {

  val intRegex = "^[+-]?[0-9]+$"
  val floatRegex =
    "^[+-]?(NaN|Infinity|(([0-9]+(\\.[0-9]*)?|\\.[0-9]+)([eE][+-]?[0-9]+)?[fFdD]?))$"

  /** (shape regex, Spark datetime patterns, DuckDB strptime formats).
    * Shapes with two candidate patterns (dd/MM vs MM/dd) count once if
    * either parses, mirroring parseDateStrictly's first-success return. */
  val dateShapes: Seq[(String, Seq[String], Seq[String])] = Seq(
    ("^[0-9]{4}-[0-9]{2}-[0-9]{2}$", Seq("yyyy-MM-dd"), Seq("%Y-%m-%d")),
    ("^[0-9]{8}$", Seq("yyyyMMdd"), Seq("%Y%m%d")),
    ("^[0-9]{4}/[0-9]{2}/[0-9]{2}$", Seq("yyyy/MM/dd"), Seq("%Y/%m/%d")),
    ("^[0-9]{2}/[0-9]{2}/[0-9]{4}$", Seq("dd/MM/yyyy", "MM/dd/yyyy"),
      Seq("%d/%m/%Y", "%m/%d/%Y")),
    ("^[0-9]{2}-[0-9]{2}-[0-9]{4}$", Seq("dd-MM-yyyy", "MM-dd-yyyy"),
      Seq("%d-%m-%Y", "%m-%d-%Y")))

  private val longMin = "-9223372036854775808"
  private val longMax = "9223372036854775807"

  /** DuckDB predicate SQL over column `col`. */
  private def predicates(col: String): Map[String, String] = {
    def rx(r: String) = s"regexp_matches($col, '$r')"
    val decCast = s"try_cast($col AS DECIMAL(38,0))"
    val dateOk = dateShapes.map { case (shape, _, fmts) =>
      val parses = fmts.map(f => s"try_strptime($col, '$f') IS NOT NULL").mkString(" OR ")
      s"(${rx(shape)} AND ($parses))"
    }.mkString("(", " OR ", ")")
    Map(
      "eligible" -> s"($col IS NOT NULL AND trim($col) <> '')",
      "boolean_values" -> s"(lower($col) = 'true')",
      "int_values" ->
        s"(${rx(intRegex)} AND $decCast BETWEEN ${Int.MinValue} AND ${Int.MaxValue})",
      "long_values" ->
        s"(${rx(intRegex)} AND $decCast BETWEEN $longMin AND $longMax)",
      "float_values" -> s"(${rx(floatRegex)})",
      "double_values" -> s"(${rx(floatRegex)})",
      "date_values" -> dateOk)
  }

  /** The census counters; bit i of a [[CensusMask]] is counter i. */
  val counterNames: Seq[String] = Seq(
    "boolean_values", "int_values", "long_values",
    "float_values", "double_values", "date_values")

  /** Spark aggregate columns `<prefix>boolean_values .. date_values`:
    * one [[CensusMask]] of the column, one `sum` per bit. */
  def censusAggs(colName: String, prefix: String = ""): Seq[Column] = {
    val m = SqlShims.column(CensusMask(SqlShims.expression(NumericProfiler.column(colName))))
    counterNames.zipWithIndex.map { case (k, i) =>
      sum(shiftright(m, i).bitwiseAND(1)).as(s"$prefix$k")
    }
  }

  /** DuckDB aggregate SQL snippets, same aliases as [[censusAggs]]. */
  def sqlCensusAggs(colName: String, prefix: String = ""): Seq[String] = {
    val p = predicates(colName)
    counterNames.map { k =>
      s"sum(CASE WHEN ${p("eligible")} AND ${p(k)} THEN 1 ELSE 0 END)::BIGINT AS $prefix$k"
    }
  }

  private[profile] val intPattern = Pattern.compile(intRegex)
  private[profile] val floatPattern = Pattern.compile(floatRegex)
  private[profile] val datePatterns = dateShapes.map(s => Pattern.compile(s._1)).toArray
  private[profile] val intRange = (Decimal(Int.MinValue), Decimal(Int.MaxValue))
  private[profile] val longRange = (Decimal(Long.MinValue), Decimal(Long.MaxValue))
}

/** The census kernel: the [[TypeCensus]] predicates of one string as a
  * bit mask in `counterNames` order, 0 for null or blank. It calls the
  * primitives Spark's SQL predicates call: `trim` (spaces only) for
  * blanks, `find` for the regexes (as `RLike`; a trailing line
  * terminator still matches `$`), `Decimal.fromString` + precision 38
  * for the cast, and `try_to_timestamp`'s formatters for dates. Those
  * are built per instance, lazily, from the session time zone, as
  * `ToTimestamp`'s are, so a legacy (not thread-safe) parser policy
  * holds one parser per task. */
case class CensusMask(child: Expression, timeZoneId: Option[String] = None)
    extends UnaryExpression with TimeZoneAwareExpression {
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"census_mask needs a string, got ${t.simpleString}")
  }

  @transient private lazy val dates: Array[Array[TimestampFormatter]] =
    TypeCensus.dateShapes.map(_._2.map(f => TimestampFormatter(f, zoneId,
      LegacyDateFormats.SIMPLE_DATE_FORMAT, isParsing = true)).toArray).toArray

  def mask(v: UTF8String): Int =
    if (v == null || v.trim().numBytes() == 0) 0
    else {
      import TypeCensus._
      val s = v.toString
      def within(d: Decimal, r: (Decimal, Decimal)) = d >= r._1 && d <= r._2
      var m = 0
      if (v.numBytes() == 4 && (v.getByte(0) | 0x20) == 't' && (v.getByte(1) | 0x20) == 'r' &&
          (v.getByte(2) | 0x20) == 'u' && (v.getByte(3) | 0x20) == 'e') m |= 1
      if (intPattern.matcher(s).find(0)) {
        val d = Decimal.fromString(v)
        if (d != null && d.changePrecision(38, 0)) {
          if (within(d, intRange)) m |= 2
          if (within(d, longRange)) m |= 4
        }
      }
      if (floatPattern.matcher(s).find(0)) m |= 8 | 16
      // every date shape is 8 or 10 ASCII characters from a leading
      // digit, plus at most one line terminator (<= 3 bytes) before `$`
      val n = v.numBytes()
      if (n >= 8 && n <= 13 && v.getByte(0) >= '0' && v.getByte(0) <= '9') {
        var i = 0
        while (i < datePatterns.length && (m & 32) == 0) {
          if (datePatterns(i).matcher(s).find(0) && dates(i).exists(parses(_, s))) m |= 32
          i += 1
        }
      }
      m
    }

  /** `ToTimestamp`'s null-on-failure contract: a parse error is "no". */
  private def parses(f: TimestampFormatter, s: String): Boolean =
    try { f.parse(s); true }
    catch { case _: DateTimeException | _: ParseException => false }

  override def eval(input: InternalRow): Any = mask(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = ctx.addReferenceObj("censusMask", this)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      int ${ev.value} = ${c.isNull} ? 0 : $kernel.mask(${c.value});""", isNull = FalseLiteral)
  }

  override def withTimeZone(timeZoneId: String): TimeZoneAwareExpression =
    copy(timeZoneId = Some(timeZoneId))

  override protected def withNewChildInternal(newChild: Expression): CensusMask =
    copy(child = newChild)

  override def prettyName: String = "census_mask"
}
